"""End-to-end KG-construction benchmark over the public dygiepp_spark API.

Run from the root of a checkout:

    python3 kgbench/run.py --workload transcripts_e2e --seed 1 --seconds 20 --trace 0

One run, in one process on ``local[<cpus>]`` with the library's session
defaults, does this:

1. Starts the session (``session.get_spark``) and generates the workload's
   inputs from the seed, once per (workload, size, seed), into
   ``.kgbench/inputs``. Generation time is recorded but not counted.
2. Makes one untimed warm-up pass. ``setup_s`` is session start + warm-up.
3. Checks the warm-up's sink tables against the registry's DuckDB oracle
   SQL over the same inputs: row count and an order-independent digest per
   table. The oracle's digests are kept beside the inputs, keyed by a
   digest of the package sources, so each version of the code is checked
   against its own oracle.
4. Makes timed passes for ``--seconds``, and at least ``MIN_PASSES``. A pass
   that raises or writes other digests than the oracle's counts as failed.
   ``wall_s`` and ``cpu_s`` are medians over the passes; CPU is that of the
   JVM, the pyspark daemon and its workers.
5. With ``--trace 1``, makes one more, traced pass with the event log on
   and reports the per-layer metrics instead of the end-to-end ones.

The last stdout line is the result JSON; the line before it is the run
record (host, loads, versions, every pass). Everything the run writes stays
under ``.kgbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".kgbench")
PACKAGE = os.path.join(ROOT, "dygiepp_spark")

LAYERS = ("scan", "extract", "coref", "canonicalize", "kg", "sink")
LAYER_FIELDS = (
    ("jobs", "count"),
    ("tasks", "count"),
    ("failed_tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("python_s", "s"),
    ("shuffle_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("max_task_s", "s"),
)
# timed passes per run, at least: a single pass right after the warm-up
# still rides the JIT warm-up curve, so one more is needed for a steady median
MIN_PASSES = 2
KG_OPS = ("degree", "components", "components_iter", "pagerank", "triangles")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="full", help="input size: full, or smoke for tests")
    return p.parse_args(argv)


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the package from the checkout wherever they start."""
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    # JVM temp files, and with them Spark's local dir, in the checkout; no
    # hsperfdata file, which the JVM always writes under /tmp
    opts = [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(o for o in opts if o)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def event_log_dir() -> str:
    return os.path.join(STATE, "eventlog", str(os.getpid()))


def start_session(trace: bool):
    from dygiepp_spark.session import get_spark

    # measurement settings only; every engine knob stays the library default
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = event_log_dir()
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("kgbench", master=f"local[{cpus()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_engine(spark) -> None:
    """Stop the session and its JVM, and wait for every process they started."""
    import proctree
    from pyspark import SparkContext

    started = proctree.descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None
    proctree.wait_gone(started, timeout_s=60)


def source_digest() -> str:
    """sha256 over the package and benchmark sources: identifies the code
    measured when the checkout is not a git repository."""
    h = hashlib.sha256()
    for top in (PACKAGE, HERE):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames.sort()
            for name in sorted(filenames):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    """HEAD's commit, read from ``.git`` when the checkout is a work tree."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[len("ref: "):]
        if os.path.isfile(os.path.join(git, ref)):
            with open(os.path.join(git, ref)) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            return next((ln.split()[0] for ln in f if ln.rstrip().endswith(" " + ref)), None)
    except OSError:
        return None


class Run:
    """Inputs, oracle digests and passes of one benchmark run."""

    def __init__(self, args: argparse.Namespace) -> None:
        import duckdb

        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        self.wl = WORKLOADS[args.workload]
        if args.size not in self.wl.sizes:
            raise SystemExit(f"unknown size {args.size!r}; one of {sorted(self.wl.sizes)}")
        self.out_root = os.path.join(STATE, "runs", str(os.getpid()))
        self.con = duckdb.connect(config={
            "temp_directory": os.path.join(STATE, "tmp"),
            "extension_directory": os.path.join(STATE, "duckdb_extensions"),
            "autoinstall_known_extensions": False,
        })
        self.n_pass = 0

    def inputs(self, size_name: str, seed: int) -> tuple[str, float]:
        """The input directory for a size and seed, generated unless cached;
        also returns the generation seconds (0 when cached)."""
        from workloads import input_dir

        size = self.wl.sizes[size_name]
        inp = input_dir(STATE, self.wl.name, size_name, size, seed)
        if os.path.isfile(os.path.join(inp, "_COMPLETE")):
            return inp, 0.0
        t0 = time.perf_counter()
        tmp = inp + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        self.wl.generate(self.con, seed, size, tmp)
        open(os.path.join(tmp, "_COMPLETE"), "w").close()
        shutil.rmtree(inp, ignore_errors=True)
        os.replace(tmp, inp)
        return inp, time.perf_counter() - t0

    def rows_in(self, inp: str) -> int:
        import check

        return sum(
            self.con.execute(
                f"SELECT count(*) FROM ({check.parquet_relation(os.path.join(inp, t))})"
            ).fetchone()[0]
            for t in self.wl.inputs
        )

    def oracle(self, inp: str) -> dict[str, dict]:
        """Columns, row count and digest of every sink table by the oracle;
        computed once per input and version of the code, kept beside the input."""
        import check

        path = os.path.join(inp, f"expected-{source_digest()}.json")
        if os.path.isfile(path):
            with open(path) as f:
                return json.load(f)
        out = {}
        for name, sql in self.wl.oracle(self.con, inp).items():
            cols = check.result_columns(self.con, sql)
            n, h = check.digest(self.con, sql, cols)
            out[name] = {"columns": cols, "rows": n, "digest": h}
        with open(path + ".tmp", "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
        return out

    def one_pass(self, spark, inp: str, traced: bool = False):
        """One pass over ``inp``; returns its output directory and tracer."""
        from dygiepp_spark.plans import cache
        from tracer import Tracer

        self.n_pass += 1
        out = os.path.join(self.out_root, f"pass{self.n_pass}")
        tr = Tracer(spark, traced)
        try:
            with cache.scoped():
                self.wl.run(spark, inp, out, tr)
        finally:
            tr.close()
        return out, tr

    def digests(self, out: str, oracle: dict[str, dict]) -> dict[str, dict]:
        """Row count and digest of every sink table a pass wrote, over the
        oracle's columns; the pass output is removed afterwards."""
        import check

        got = {}
        try:
            for name, project in self.wl.sinks.items():
                rel = check.parquet_relation(os.path.join(out, name), project)
                n, h = check.digest(self.con, rel, oracle[name]["columns"])
                got[name] = {"rows": n, "digest": h, "columns": oracle[name]["columns"]}
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return got


def mismatches(expected: dict, got: dict) -> list[str]:
    """Tables whose row count or digest differ."""
    return [
        name for name, e in expected.items()
        if (e["rows"], e["digest"]) != (got[name]["rows"], got[name]["digest"])
    ]


def dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


def layer_metrics(tr, tag_metrics: dict, traced_wall: float, untraced_wall: float,
                  sink_files: tuple[int, int]) -> dict[str, tuple[float, str]]:
    from eventlog import TagMetrics

    m: dict[str, tuple[float, str]] = {}
    spans = tr.spans
    for layer in LAYERS:
        agg = TagMetrics()
        for tag, tm in tag_metrics.items():
            if tag.split(":")[0] == layer:
                agg.add(tm)
        mine = [s for s in spans if s.layer == layer]
        rows = agg.rows_written if layer == "sink" else sum(s.rows for s in mine)
        m[f"{layer}.wall_s"] = (sum(s.wall_s for s in mine), "s")
        m[f"{layer}.rows_out"] = (rows, "rows")
        for name, unit in LAYER_FIELDS:
            m[f"{layer}.{name}"] = (getattr(agg, name), unit)

    def rows(tag: str) -> int:
        return sum(s.rows for s in spans if s.tag == tag)

    def wall(tag: str) -> float:
        return sum(s.wall_s for s in spans if s.tag == tag)

    m["extract.guard_rows"] = (rows("extract:guard"), "rows")
    triples = rows("extract:triples")
    m["canonicalize.dedup_ratio"] = (
        rows("canonicalize:canonical") / triples if triples else 0.0, "ratio"
    )
    for op in KG_OPS:
        m[f"kg.{op}.wall_s"] = (wall(f"kg:{op}"), "s")
    iters = tag_metrics.get("kg:components_iter")
    m["kg.components_iter.jobs"] = (iters.jobs if iters else 0, "count")
    m["sink.files_written"] = (sink_files[0], "count")
    m["sink.bytes_written"] = (sink_files[1], "bytes")
    m["trace.coverage"] = (sum(s.wall_s for s in spans) / traced_wall, "ratio")
    m["trace.overhead"] = (traced_wall / untraced_wall, "ratio")
    return m


def benchmark(args: argparse.Namespace) -> tuple[dict, dict]:
    import proctree

    run = Run(args)
    rec = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "inputs": run.wl.sizes[args.size], "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus(), "load_avg_start": os.getloadavg(),
        "python": platform.python_version(), "commit": git_commit(),
        "source_sha256_16": source_digest(),
    }
    root = os.getpid()
    passes, errors = [], []
    t0 = time.perf_counter()
    spark = start_session(bool(args.trace))
    session_s = time.perf_counter() - t0
    import pyspark

    rec["spark"] = pyspark.__version__
    inp, rec["generate_s"] = run.inputs(args.size, args.seed)
    rec["rows_in"] = run.rows_in(inp)
    t0 = time.perf_counter()
    expected = run.oracle(inp)
    rec["oracle_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    out, _ = run.one_pass(spark, inp)
    warm_s = time.perf_counter() - t0
    rec["setup"] = {"session_s": session_s, "warm_s": warm_s}
    bad = mismatches(expected, run.digests(out, expected))
    if bad:
        errors.append(f"warm-up: {bad}")
    verified = not bad

    t_end = time.perf_counter() + args.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
        win = proctree.Window(root)
        try:
            with win:
                out, _ = run.one_pass(spark, inp)
            bad = mismatches(expected, run.digests(out, expected))
        except Exception as exc:  # noqa: BLE001 — a failed pass is counted, the run goes on
            bad = [f"{type(exc).__name__}: {exc}"[:300]]
        if bad:
            errors.append(f"pass {len(passes)}: {bad}")
        passes.append({"wall_s": win.wall_s, "cpu_s": win.cpu_s, "ok": not bad})

    if args.trace:
        t0 = time.perf_counter()
        out, tr = run.one_pass(spark, inp, traced=True)
        traced_wall = time.perf_counter() - t0
        sink_files = dir_files(out)
        traced_bad = mismatches(expected, run.digests(out, expected))
        if traced_bad:
            errors.append(f"traced pass: {traced_bad}")
    app_id = spark.sparkContext.applicationId
    stop_engine(spark)

    shutil.rmtree(run.out_root, ignore_errors=True)
    rec.update(
        load_avg_end=os.getloadavg(), passes=passes, errors=errors,
        elapsed_s=time.perf_counter() - T_START,
    )

    ok = [p for p in passes if p["ok"]] or passes
    wall = statistics.median(p["wall_s"] for p in ok)
    attempted = len(passes) + args.trace
    failed = sum(not p["ok"] for p in passes)
    if args.trace:
        import eventlog

        failed += bool(traced_bad)
        tags = eventlog.read_tag_metrics(eventlog.log_files(event_log_dir(), app_id))
        shutil.rmtree(event_log_dir(), ignore_errors=True)
        metrics = layer_metrics(tr, tags, traced_wall, wall, sink_files)
    else:
        metrics = {
            "wall_s": (wall, "s"),
            "rows_per_s": (rec["rows_in"] / wall, "rows/s"),
            "cpu_s": (statistics.median(p["cpu_s"] for p in ok), "s"),
            "setup_s": (session_s + warm_s, "s"),
        }
    result = {
        "correct": verified and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, rec


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"kgbench: no dygiepp_spark package in {ROOT}", file=sys.stderr)
        return 2
    prepare_environment()
    result, record = benchmark(args)
    print(json.dumps({"run_record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

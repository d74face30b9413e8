"""The benchmark's workloads: input generators, one pass over the public
API, and the DuckDB oracle for every table a pass writes.

Each workload stresses other layers (see ``BENCHMARK.json`` for why each
was chosen):

- ``transcripts_e2e``: turns with mega-conversations through extraction,
  coref, canonicalization, every sink and the KG analytics on the stored
  canonical triples. The canonical KG is vocabulary-bound (~30 entities),
  so the KG layer does little here.
- ``kg_store``: a stored canonical KG in the shape of ``bench.py``'s
  ``kg_big`` graph (hashed topology: many cycles of up to a few hundred
  entities); only ``operators.kg``/``operators.graph`` and the sink work.

Inputs depend only on the seed and the size. A pass receives only the
generated parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from dygiepp_spark.operators import kg
from dygiepp_spark.plans.pipeline import extract_all
from dygiepp_spark.sources import sinks
from dygiepp_spark.synth import VOCAB
from dygiepp_spark.tables import read_turns

import check
from tracer import Tracer

# parquet files per generated table
N_FILES = 4
# events are checked through the registry's event_arg_stats oracle, so the
# written events table is projected onto the same per-trigger stats
EVENT_STATS = (
    "conv_id, turn_idx, trigger_ix, event_type, len(args) AS n_args, "
    "list_min(list_transform(args, a -> a.start)) AS first_arg_start, "
    'list_max(list_transform(args, a -> a."end")) AS last_arg_end'
)


@dataclass(frozen=True)
class Workload:
    name: str
    sizes: dict[str, dict[str, int]]
    # written table -> projection of it that the oracle reproduces
    sinks: dict[str, str] = field(default_factory=dict)
    # input tables a pass consumes; their rows are the denominator of rows_per_s
    inputs = ()

    def generate(self, con, seed: int, size: dict, dest: str) -> None:
        raise NotImplementedError

    def run(self, spark: SparkSession, inp: str, out: str, tr: Tracer) -> None:
        raise NotImplementedError

    def oracle(self, con, inp: str) -> dict[str, str]:
        """DuckDB SQL of the expected rows of every sink table."""
        raise NotImplementedError


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _view(con, name: str, path: str) -> None:
    con.execute(f"CREATE OR REPLACE VIEW {name} AS {check.parquet_relation(path)}")


def _pmod(x: str, m: int) -> str:
    """Spark's pmod (non-negative remainder) in DuckDB SQL."""
    return f"((({x}) % {m}) + {m}) % {m}"


def synth_turns_sql(n_convs: int, seed: int, mega_every: int, mega_turns: int,
                    tokens_per_turn: int = 12) -> str:
    """``dygiepp_spark.synth.synth_turns`` as DuckDB SQL, row for row (pinned
    by the benchmark's tests). Generating in DuckDB keeps input generation
    out of the Spark JVM, where it costs seconds per seed."""
    vocab = "[" + ", ".join(f"'{v}'" for v in VOCAB) + "]"
    n_turns = f"3 + {_pmod(f'c * 2654435761 + {seed}', 18)}"
    if mega_every:
        n_turns = f"CASE WHEN c % {mega_every} = 0 THEN {mega_turns} ELSE {n_turns} END"
    n_tok = f"2 + {_pmod(f'c * 7 + t * 13 + {seed}', tokens_per_turn - 1)}"
    token = f"{vocab}[{_pmod(f'c * 31 + t * 17 + i * 7 + {seed}', len(VOCAB))} + 1]"
    return f"""
        SELECT 'conv' || c AS conv_id, CAST(t AS INTEGER) AS turn_idx,
               CASE WHEN t % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
               array_to_string(list_transform(range({n_tok}), i -> {token}), ' ') AS text,
               CASE WHEN t % 4 = 3 THEN 'search' END AS tool,
               to_timestamp(1704067200 + c * 1000 + t) AS ts,
               c * {N_FILES} // {n_convs} AS part
        FROM (SELECT c, unnest(range({n_turns})) AS t FROM range({n_convs}) r(c))"""


def _copy_parts(con, sql: str, dest: str, order: str) -> None:
    """Write ``sql`` (with a ``part`` column in [0, N_FILES)) as N_FILES
    parquet files, so a Spark scan plans several tasks as it would over a
    Spark-written table."""
    os.makedirs(dest, exist_ok=True)
    con.execute(f"CREATE OR REPLACE TEMP TABLE gen AS {sql}")
    for k in range(N_FILES):
        path = os.path.join(dest, f"part-{k:05d}.parquet").replace("'", "''")
        con.execute(
            f"COPY (SELECT * EXCLUDE (part) FROM gen WHERE part = {k} ORDER BY {order}) "
            f"TO '{path}' (FORMAT parquet)"
        )
    con.execute("DROP TABLE gen")


def _store_sql(edges_sql: str) -> str:
    """A canonical store is distinct on (subj, pred, obj), with support."""
    return f"""
        SELECT subj_canonical, pred, obj_canonical,
               CAST(sum(n_support) AS BIGINT) AS n_support,
               hash(subj_canonical, pred, obj_canonical) % {N_FILES} AS part
        FROM ({edges_sql}) GROUP BY ALL"""


class TranscriptsE2E(Workload):
    inputs = ("turns",)

    def generate(self, con, seed, size, dest):
        sql = synth_turns_sql(size["convs"], seed, size["mega_every"], size["mega_turns"])
        _copy_parts(con, sql, f"{dest}/turns", "conv_id, turn_idx")

    def run(self, spark, inp, out, tr):
        turns = tr.frame("scan", "turns", lambda: read_turns(spark, f"{inp}/turns"))
        res = extract_all(turns)
        mentions = tr.frame("extract", "mentions", lambda: res.mentions)
        triples = tr.frame("extract", "triples", lambda: res.triples)
        events = tr.frame("extract", "events", lambda: res.events)
        tr.frame("extract", "guard", lambda: res.guard_report)
        clusters = tr.frame("coref", "clusters", lambda: res.clusters)
        canonical = tr.frame("canonicalize", "canonical", lambda: res.canonical_triples)
        tr.write("mentions", lambda: sinks.write_mentions(mentions, f"{out}/mentions"))
        tr.write("triples", lambda: sinks.write_triples(triples, f"{out}/triples"))
        tr.write("events", lambda: _write(events, f"{out}/events"))
        tr.write("clusters", lambda: _write(clusters, f"{out}/clusters"))
        tr.write(
            "canonical",
            lambda: sinks.write_canonical_triples(canonical, f"{out}/canonical"),
        )
        store = tr.frame("scan", "canonical", lambda: spark.read.parquet(f"{out}/canonical"))
        for op, fn in (
            ("degree", kg.degree_stats),
            ("components", kg.kg_components),
            ("pagerank", kg.pagerank_quantized),
        ):
            res_df = tr.frame("kg", op, lambda fn=fn: fn(store))
            tr.write(f"kg_{op}", lambda df=res_df, op=op: _write(df, f"{out}/kg_{op}"))

    def oracle(self, con, inp):
        _view(con, "bench_turns", f"{inp}/turns")
        con.execute(
            "CREATE OR REPLACE TEMP TABLE oracle_canonical AS "
            + check.oracle_turns("canonical_triples_coref", "bench_turns")
        )
        return {
            "mentions": check.oracle_turns("ner_mentions", "bench_turns"),
            "triples": check.oracle_turns("relation_triples", "bench_turns"),
            "events": check.oracle_turns("event_arg_stats", "bench_turns"),
            "clusters": check.oracle_turns("coref_clusters", "bench_turns"),
            "canonical": "SELECT * FROM oracle_canonical",
            "kg_degree": check.oracle_kg("kg_degree_stats", "oracle_canonical"),
            "kg_components": check.oracle_kg("kg_components", "oracle_canonical"),
            "kg_pagerank": check.oracle_kg("kg_pagerank", "oracle_canonical"),
        }


class KgStore(Workload):
    inputs = ("store",)

    def generate(self, con, seed, size, dest):
        # bench.py's kg_big graph: subject id % n, object Knuth-hashed,
        # every edge drawn twice (support 2); the seed relabels the nodes
        n_nodes = size["edges"] // 2

        def label(x: str) -> str:
            return f"'E' || {_pmod(f'{x} + {seed}', n_nodes)}"

        edges = f"""
            SELECT {label(f"id % {n_nodes}")} AS subj_canonical, 'REL' AS pred,
                   {label(f"id * 2654435761 % {n_nodes}")} AS obj_canonical,
                   1 AS n_support
            FROM range({size["edges"]}) r(id)"""
        _copy_parts(con, _store_sql(edges), f"{dest}/store", "subj_canonical, pred, obj_canonical")

    def run(self, spark, inp, out, tr):
        store = tr.frame("scan", "store", lambda: spark.read.parquet(f"{inp}/store"))
        for op, fn in (
            ("degree", kg.degree_stats),
            ("components", kg.kg_components),
            ("components_iter", lambda df: kg.kg_components(df, single_task_max_edges=0)),
            ("pagerank", kg.pagerank_quantized),
            ("triangles", kg.triangle_stats),
        ):
            res_df = tr.frame("kg", op, lambda fn=fn: fn(store))
            tr.write(f"kg_{op}", lambda df=res_df, op=op: _write(df, f"{out}/kg_{op}"))

    def oracle(self, con, inp):
        _view(con, "bench_store", f"{inp}/store")
        components = check.oracle_kg("kg_components", "bench_store")
        return {
            "kg_degree": check.oracle_kg("kg_degree_stats", "bench_store"),
            "kg_components": components,
            "kg_components_iter": components,
            "kg_pagerank": check.oracle_kg("kg_pagerank", "bench_store"),
            "kg_triangles": check.oracle_kg("kg_triangles", "bench_store"),
        }


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        TranscriptsE2E(
            "transcripts_e2e",
            sizes={
                # mega-conversations hold ~15 % of the turns, as in the
                # 10k-conversation corpus with one 2048-turn conversation in 1000
                "full": {"convs": 300, "mega_every": 100, "mega_turns": 200},
                "smoke": {"convs": 24, "mega_every": 12, "mega_turns": 24},
            },
            sinks={
                "mentions": "*", "triples": "*", "events": EVENT_STATS,
                "clusters": "*", "canonical": "*",
                "kg_degree": "*", "kg_components": "*", "kg_pagerank": "*",
            },
        ),
        KgStore(
            "kg_store",
            sizes={
                "full": {"edges": 20000},
                "smoke": {"edges": 400},
            },
            sinks={
                "kg_degree": "*", "kg_components": "*", "kg_components_iter": "*",
                "kg_pagerank": "*", "kg_triangles": "*",
            },
        ),
    )
}


def input_dir(cache_root: str, workload: str, size_name: str, size: dict, seed: int) -> str:
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    return os.path.join(cache_root, "inputs", f"{workload}-{size_name}-{key}-seed{seed}")

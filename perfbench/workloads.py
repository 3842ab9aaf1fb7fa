"""The benchmark's workloads: what one operation is, in which order the
operations run, and how each one's result is checked."""

from __future__ import annotations

import random
from dataclasses import dataclass

from statements import PRESTO_READS, WRITES, corpus_reads, write_group

# The catalog-sf0.001 queries: a draw from the 196-query catalog,
# stratified by operator family (``queries._family``): one query per
# family, the other three allotted by family size (largest remainder),
# drawn with ``random.Random(0).sample`` over each family's sorted names.
# It is fixed here, not redrawn per run seed, so that every run measures
# the same mix and catalog additions do not change the workload; the run
# seed drives the data and the order.  Redrawn per seed, the summed pass
# time moved by an interquartile range of ~45% of its median across
# seeds, because per-query times span 0.05-6 s.
CATALOG_QUERIES = (
    "agg_stats_moments",
    "agg_filter_clause",
    "dedup_minhash_lsh",
    "events_attribution_lasttouch",
    "fn_datetime_ops",
    "join_theta",
    "multimodal_frame_sample",
    "sample_stratified_threshold",
    "sample_domain_cap",
    "setop_intersect_all",
    "similarity_knn_top1",
    "subquery_in_uncorrelated",
    "text_vocab_encode",
    "tpch_q05",
    "tpch_q10",
    "window_partition_total",
)


@dataclass
class Op:
    name: str
    kind: str  # "query" (catalog spark_fn → noop sink) or "sql" (Engine.sql → collect)
    text: str = ""  # sql text, for kind "sql"
    oracle: str | None = None  # DuckDB sql checking the result
    ordered: bool = False  # the result's row order is checked too
    write: bool = False  # a CREATE TABLE AS / INSERT INTO statement


# Every run generates the same tables, from this seed; the run seed sets
# the order of the operations (and the names of the tables the writes
# create).  Drawn per run seed, the data moved single queries by up to
# 40% (tpch_q05 ran 320-350 ms on one seed's tables, 460-540 ms on
# others'), which no number of passes within a run averages out.
DATA_SEED = 0

# workload name → scale factor of its generated inputs
WORKLOADS = {"catalog-sf0.001": 0.001, "presto-sql-rw": 0.001}


def catalog_ops(specs, rng: random.Random) -> list[Op]:
    ops = [Op(n, "query", oracle=specs[n].oracle) for n in CATALOG_QUERIES]
    rng.shuffle(ops)
    return ops


def sql_ops(rng: random.Random, run_tag: str) -> list[Op]:
    """Seeded order of the reads with each write group's four statements
    interleaved at seeded positions (a group keeps its own order)."""
    reads = corpus_reads() + PRESTO_READS
    ops = [Op(name, "sql", text, oracle, ordered) for name, text, oracle, ordered in reads]
    rng.shuffle(ops)
    for name, create_src, insert_src in WRITES:
        table = f"bw_{run_tag}_{name}"
        group = [
            Op(n, "sql", text, oracle, write=n.endswith((".create", ".insert")))
            for n, text, oracle in write_group(name, table, create_src, insert_src)
        ]
        slots = sorted(rng.sample(range(len(ops) + len(group)), len(group)))
        for slot, op in zip(slots, group):
            ops.insert(slot, op)
    return ops


def pass_order(ops: list[Op], rng: random.Random, kind: str) -> list[Op]:
    """Each timed pass re-permutes catalog queries; SQL statements keep
    their order (a write group's statements depend on each other)."""
    if kind == "catalog-sf0.001":
        ops = list(ops)
        rng.shuffle(ops)
    return ops

"""The benchmark's workloads and the checks on their outputs.

Each workload is a fixed list of registered query keys and example
pipelines, run one after another to completion (a closed loop with one
client). A key's construction ``queries[key](spark, dir)`` and its action
(a ``noop`` write) are timed separately; a pipeline's ``Pipeline(...)``,
``.validate(spark)`` and ``.run(spark)`` are.

A run pays about half a minute before its timed passes (JVM start and the
first pass over every call), so the workloads are few and their key lists
short: one run (set-up, the checks, four timed passes) stays near a
minute on a 4-core box, and every checked output is small enough to
compare row by row. For that reason the relational, pipeline and streaming
calls share one JVM-only workload, and the curation and raw-decode calls
share one Python-heavy workload.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np


@dataclass(frozen=True)
class Workload:
    why: str
    keys: tuple[str, ...]
    #: tables the keys and pipelines read; only these are generated
    tables: tuple[str, ...]
    pipelines: tuple[str, ...] = ()
    #: copies of the document-side tables (see inputs.REPLICA_KEYS)
    replicas: int = 1


WORKLOADS = {
    "relational_ingest": Workload(
        why="JVM-only: relational operators, the JSON pipeline engine writing "
        "parquet sinks, and a live streaming drain; the bypass for llmops, "
        "Python-worker and codec changes",
        keys=("agg_groupby_multi", "tpch_q9_product_profit", "stream_dedup_live"),
        tables=("lineitem", "orders", "part", "supplier", "nation", "events", "documents"),
        pipelines=("wordcount_pipeline", "curation_pipeline"),
        replicas=4,
    ),
    "curation_decode": Workload(
        why="llmops: eager construction jobs and Python UDFs of ANN and "
        "semantic dedup, plus pure-Python decoding of a staged parquet "
        "fixture; the target of construction-floor, Python and codec changes",
        keys=("sim_topk_ivf", "dedup_semantic", "scan_parquet_raw_bloom"),
        tables=("embeddings", "documents"),
    ),
}

#: runtime argument of the curation pipeline's per-source cap
CURATION_CAP = 1000

#: DuckDB equivalents of the example pipelines' sinks
PIPELINE_ORACLE = {
    "wordcount_pipeline": r"""
        SELECT word, COUNT(*) AS cnt
        FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents)
        WHERE word <> '' GROUP BY word""",
    "curation_pipeline": rf"""
        WITH q AS (
            SELECT *, len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
                      AS n_words
            FROM documents),
        kept AS (
            SELECT * FROM q
            WHERE n_words >= 5 AND length(text) / greatest(n_words, 1) <= 15
            QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1)
        SELECT doc_id, text, lang, source, n_chars, n_words FROM kept
        QUALIFY row_number() OVER (PARTITION BY source ORDER BY n_words DESC, doc_id)
                <= {CURATION_CAP}""",
}


def owner_layer(fn) -> str:
    """The program layer that owns a query function. ``functions`` has no
    boundary visible from outside a plan, so its keys count as operators."""
    layer = fn.__module__.split(".")[1]
    return "operators" if layer == "functions" else layer


def pipeline_spec(root: str, name: str) -> dict:
    with open(os.path.join(root, "examples", f"{name}.json")) as fh:
        return json.load(fh)


def pipeline_args(data_dir: str, out_dir: str) -> dict[str, str]:
    return {"sf_dir": data_dir, "out_dir": out_dir, "cap": str(CURATION_CAP)}


# --- rows-only invariants: the ones the test suite pins -------------------


#: recall floor of sim_topk_ivf against the exact top-k (test_ann_recall_floor)
IVF_RECALL_FLOOR = 0.40


def _check_sim_topk_ivf(spark, queries, data_dir, con) -> None:
    from dynamic_spark_spark.registry import ORACLE

    got = queries["sim_topk_ivf"](spark, data_dir).toPandas()
    if got.duplicated(["q_id", "vec_id"]).any():
        raise AssertionError("sim_topk_ivf: duplicate (q_id, vec_id)")
    exact = con.execute(ORACLE["sim_topk"]).df()
    hits = set(zip(got.q_id, got.vec_id)) & set(zip(exact.q_id, exact.vec_id))
    recall = len(hits) / len(exact)
    if recall < IVF_RECALL_FLOOR:
        raise AssertionError(f"sim_topk_ivf: recall {recall:.3f} < {IVF_RECALL_FLOOR}")


def _check_dedup_semantic(spark, queries, data_dir, con) -> None:
    """Every dropped vector names an earlier vector of its cell whose cosine
    really is at least SEM_TAU (test_dedup_semantic_verdicts_are_sound)."""
    from dynamic_spark_spark.llmops.similarity import SEM_TAU

    out = queries["dedup_semantic"](spark, data_dir).toPandas().set_index("vec_id")
    emb = con.execute("SELECT vec_id, embedding FROM embeddings").df()
    vecs = {i: np.asarray(e, dtype=np.float64) for i, e in zip(emb.vec_id, emb.embedding)}
    if set(out.index) != set(vecs):
        raise AssertionError("dedup_semantic: output ids differ from input ids")
    for vid, row in out[~out["kept"]].iterrows():
        dup = int(row["dup_of"])
        v, d = vecs[vid], vecs[dup]
        cos = float(v @ d / (np.linalg.norm(v) * np.linalg.norm(d)))
        if not (dup < vid and cos >= SEM_TAU - 1e-9 and out.at[dup, "cid"] == row["cid"]):
            raise AssertionError(f"dedup_semantic: unsound verdict for {vid}")


def _check_stream_dedup_live(spark, queries, data_dir, con) -> None:
    """Per event type, the live dedup keeps each user once
    (test_stream_dedup_live_key)."""
    got = queries["stream_dedup_live"](spark, data_dir).toPandas()
    want = con.execute(
        "SELECT event_type, count(*) AS n FROM "
        "(SELECT DISTINCT user_id, event_type FROM events) GROUP BY event_type"
    ).df()
    if dict(zip(got.event_type, got.n_unique_users)) != dict(zip(want.event_type, want.n)):
        raise AssertionError("stream_dedup_live: unique users differ from batch distinct")


ROWS_ONLY_CHECKS = {
    "sim_topk_ivf": _check_sim_topk_ivf,
    "dedup_semantic": _check_dedup_semantic,
    "stream_dedup_live": _check_stream_dedup_live,
}


def check_key(spark, queries, key: str, data_dir: str, con) -> None:
    """Raise if ``key``'s output on ``data_dir`` is wrong."""
    from dynamic_spark_spark.registry import ORACLE
    from tests.oracle_harness import compare

    if key in ORACLE:
        compare(key, queries[key](spark, data_dir), con.execute(ORACLE[key]).df())
    elif key in ROWS_ONLY_CHECKS:
        ROWS_ONLY_CHECKS[key](spark, queries, data_dir, con)
    else:
        raise AssertionError(f"{key}: no oracle and no rows-only check")


def check_pipeline(spark, name: str, sink_dir: str, con) -> None:
    from tests.oracle_harness import compare

    compare(name, spark.read.parquet(sink_dir), con.execute(PIPELINE_ORACLE[name]).df())

"""Named query registry — the single source of truth for the
correctness gate.

Each QuerySpec binds:
  - a Spark builder ``(SparkSession, sf_dir) -> DataFrame``
  - an equivalent DuckDB oracle SQL string (or None for ops that are
    not SQL-expressible — custom stateful streaming etc.; the driver
    then records a weaker rows-only check)
  - the SURVEY.md §2 operator ids the query covers.

Cross-engine determinism rules every query obeys:
  - Floating aggregates use the decimal-sum pattern:
    ``cast(sum(cast(expr as decimal(27,8))) as double)``. Decimal sums
    are exact and order-independent, so Spark's partition-parallel
    aggregation and DuckDB's sequential one produce bit-identical
    doubles. Plain double sums would differ in final ulps.
  - Per-row arithmetic is done in double with the same textual shape in
    both engines (IEEE ops are deterministic given identical operands).
  - Ranking/top-k always carries a unique tie-break key (event_id /
    orderkey), never raw floats alone.
  - Aggregate/computed columns are aliased identically in both engines
    (the driver sorts columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    # Either the DuckDB SQL string, or a zero-arg callable returning it.
    # Callables are resolved lazily in oracle_sql_map() so a composite
    # module can reference other QuerySpecs' oracles without import-order
    # coupling (a bare `import plans.composites` must not KeyError).
    oracle: str | Callable[[], str] | None
    covers: tuple[str, ...] = ()
    doc: str = ""
    bench: bool = False  # include in bench.py headline set

    def oracle_sql(self) -> str | None:
        return self.oracle() if callable(self.oracle) else self.oracle


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | Callable[[], str] | None,
    covers: tuple[str, ...] = (),
    doc: str = "",
    bench: bool = False,
):
    """Decorator: register a Spark query builder under ``name``."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, covers=covers, doc=doc, bench=bench
        )
        return fn

    return wrap


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: spec.builder for name, spec in QUERIES.items()}


def oracle_sql_map() -> dict[str, str]:
    from streamprocess_spark.plans.util import events_us_oracle

    _ensure_loaded()
    return {
        name: events_us_oracle(spec.oracle_sql())
        for name, spec in QUERIES.items()
        if spec.oracle is not None
    }


_LOADED = False


# Curated driver ordering. The correctness driver checks the FIRST 50
# entries of queries(), so the first 50 names here must jointly cover
# every SURVEY §2 operator id (asserted by tests/test_plan_lint.py).
# Composites stand in for their constituent thin queries inside the
# top 50; the constituents stay registered below slot 50 so the repo
# parity suite still checks each one individually. The history of
# which queries rotated in and out of these slots is in HISTORY.md.
TOP50: tuple[str, ...] = (
    # relational core
    "q1_pricing_summary",
    "q150_curation_dag",
    "q_dsp_parity",
    "q138_ocr_chain_parity",
    "q140_frame_features",
    # dataflow / queue engine
    "q_queue_admin",             # q11 + q12 + q13
    "q14_json_envelope",
    "q15_edf_order",
    "q17_request_result_join",
    "q18_zip_explode",
    "q19_batch_formation",
    # windows / analytics
    "q20_tumbling_window",
    "q_session_islands",         # q22 + q23
    "q24_topn_per_key",
    # the multi-trigger streaming sessionizer (§2.11 state carried
    # across micro-batches)
    "stream_sessionizer",
    "q148_autoscaler_blend",     # full capacity+PID+predictive blend;
                                 # supersedes q_autoscale_plan's tags
                                 # (q27/q28 stay checked below slot 50)
    "q_worker_metrics",          # q29 + q30
    # LLM data pipeline: the curation/audit family that q150 composes
    "q106_contamination",
    "q145_url_curation",
    "q126_retrieve_rerank",
    "q_text_suite",              # q40 + q41 + q42
    "q_doc_signatures",          # q43 + q44 + q46
    "q123_corpus_admission",
    "q108_udaf_energy",          # §2.12 UDAF leg; q47's dedup tag redundant
    "q142_nb_quality_classifier",
    "q121_autoscaler_sim",
    "q86_dup_clusters",
    "q87_canonical_corpus",
    "q_corpus_suite",            # q74 + q75 + q85 + q87 + q88
    # similarity / sketches: q97 is the trainer the trained-ANN family
    # (q99/q111/q103/q149) rests on
    "q97_kmeans",
    "q113_feature_hashing",
    "q125_embedding_drift",
    "q111_pq_ann",
    "q149_semdedup_scale",
    # multimodal
    "q120_image_phash_dedup",
    "q_codec_ingest_suite",
    # batch evidence umbrellas: each digests the full output of 15
    # constituents into driver-hashable rows (see composites.py)
    "q_longtail_suite",
    "q_thin_kernels_suite",
    "q_audio_suite",             # q50 + q51 + q52 + q57 + q58 + WAV
    "q_image_suite",             # q54 + q60..q64 + q66
    "q_inference_suite",         # q55 + q56 + dual OCR engines
    "q_media_invariants",        # q59 + q67 + q128 (closed-form invariants)
    "q53_image_layout",
    # scale joins / frames
    "q117_scd2_history",
    "q_scale_join_suite",        # q79 + q80 + q83
    # streaming
    "stream_window_suite",       # 4 converged streaming runs
    "stream_state_suite",        # session-window + stream-join + top-k
    "sessionize_batch_segments",  # T1/T6/T7 sessionizer (recursive-CTE oracle)
    "stream_thin_suite",         # 8 streaming variants digested
    "stream_autoscaler_blend",   # GroupState autoscaler blend twin
)


def _curate_order() -> None:
    """Reorder QUERIES in-place: TOP50 first, rest in registration order."""
    ordered: dict[str, QuerySpec] = {}
    for name in TOP50:
        if name in QUERIES:
            ordered[name] = QUERIES[name]
    for name, spec in QUERIES.items():
        if name not in ordered:
            ordered[name] = spec
    QUERIES.clear()
    QUERIES.update(ordered)


def _ensure_loaded() -> None:
    """Import all modules that register queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    import streamprocess_spark.plans.relational  # noqa: F401
    import streamprocess_spark.plans.dataflow  # noqa: F401
    import streamprocess_spark.plans.analytic_windows  # noqa: F401
    import streamprocess_spark.plans.llm_pipeline  # noqa: F401
    import streamprocess_spark.plans.streaming_queries  # noqa: F401
    import streamprocess_spark.plans.stateful_queries  # noqa: F401
    import streamprocess_spark.plans.multimodal  # noqa: F401
    import streamprocess_spark.plans.scale_joins  # noqa: F401
    import streamprocess_spark.plans.composites  # noqa: F401

    _curate_order()
    _LOADED = True

"""PySpark-native schema + constraint validation engine.

Public API (see README.md and docs/SPEC.md):

    from json_to_avro_schema_spark import (
        compile_document, run_validation, get_spark,
        run_table_checks, CheckpointStore, run_with_checkpoint,
    )

    plan = compile_document(spec_dict)        # driver-side, fails fast
    res = run_validation(spark, df, plan)     # lazy: violations + verdicts
"""

from .checkpoint import CheckpointStore, run_with_checkpoint
from .compiler.plan import CompiledPlan, compile_document
from .errors import (
    SchemaMismatchError,
    ValidationFailedError,
    SpecCompileError,
    SpecError,
    SpecParseError,
    SpecResolutionError,
)
from .operators.dedup import paragraph_dedup, set_similarity_join
from .operators.referential import (
    bloom_build,
    bloom_ri_violations,
    ri_verdict,
    ri_violations,
)
from .operators.profile import fd_violations
from .operators.temporal import (
    asof_join,
    interval_overlaps,
    range_join,
    sequence_gaps,
    session_stats,
    sessionize,
)
from .operators.drift import (
    emd_drift,
    emd_drift_report,
    ks_drift,
    ks_drift_report,
)
from .operators.funnel import FunnelResult, corpus_funnel
from .operators.lm import perplexity_split
from .operators.packing import (
    cumulative_tokens,
    packed_shards,
    select_mixture,
    shard_manifest,
    write_packed_shards,
)
from .operators.classifier import (
    classifier_score,
    score_quality_classifier,
    train_quality_classifier,
)
from .operators.sampling import (
    deterministic_sample,
    deterministic_topn_sample,
    stratified_sample,
    train_test_split,
    weighted_sample,
)
from .operators.search import (
    bm25_search,
    bm25_search_indexed,
    build_bm25_index,
    tfidf_top_terms,
)
from .operators.outliers import iqr_outliers, mad_outliers
from .operators.binning import quantile_bins, standardize, width_bins
from .operators.layout import with_zorder, write_zordered
from .operators.matching import fuzzy_dedup_candidates, fuzzy_join
from .operators.text import normalize_unicode
from .operators.drift import benford_report
from .operators.profile import fd_candidates, suggest_fds
from .operators.topk import grouped_topk
from .operators.web import (
    domain_caps,
    domain_filter,
    normalize_url,
    url_dedup,
    url_dedup_incremental,
    url_domain,
)
from .runner import (
    ValidationResult,
    fail_on_violations,
    run_validation,
    sample_violations,
    verdicts_from_violations,
    verdicts_with_violation_count,
)
from .session import get_spark
from .table_checks import fail_on_failed_checks, run_table_checks

__version__ = "0.1.0"

__all__ = [
    "asof_join",
    "benford_report",
    "bloom_build",
    "bm25_search",
    "bm25_search_indexed",
    "build_bm25_index",
    "fd_candidates",
    "fuzzy_dedup_candidates",
    "fuzzy_join",
    "iqr_outliers",
    "mad_outliers",
    "quantile_bins",
    "suggest_fds",
    "tfidf_top_terms",
    "weighted_sample",
    "width_bins",
    "with_zorder",
    "write_zordered",
    "bloom_ri_violations",
    "fd_violations",
    "interval_overlaps",
    "range_join",
    "ri_verdict",
    "ri_violations",
    "sequence_gaps",
    "session_stats",
    "set_similarity_join",
    "standardize",
    "sessionize",
    "CheckpointStore",
    "CompiledPlan",
    "SchemaMismatchError",
    "SpecCompileError",
    "SpecError",
    "SpecParseError",
    "SpecResolutionError",
    "ValidationResult",
    "FunnelResult",
    "ValidationFailedError",
    "classifier_score",
    "compile_document",
    "corpus_funnel",
    "cumulative_tokens",
    "domain_caps",
    "domain_filter",
    "emd_drift",
    "emd_drift_report",
    "fail_on_failed_checks",
    "fail_on_violations",
    "deterministic_sample",
    "deterministic_topn_sample",
    "get_spark",
    "grouped_topk",
    "ks_drift",
    "ks_drift_report",
    "normalize_unicode",
    "normalize_url",
    "packed_shards",
    "paragraph_dedup",
    "perplexity_split",
    "run_table_checks",
    "run_validation",
    "run_with_checkpoint",
    "sample_violations",
    "score_quality_classifier",
    "select_mixture",
    "shard_manifest",
    "stratified_sample",
    "train_quality_classifier",
    "train_test_split",
    "url_dedup",
    "url_dedup_incremental",
    "url_domain",
    "verdicts_from_violations",
    "verdicts_with_violation_count",
    "write_packed_shards",
]

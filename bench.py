#!/usr/bin/env python
"""Benchmark harness.

Default: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Scaling modes (N→4N strong scaling of the flagship validation job on one
pre-generated input, the north rule's executor criterion; results are
analysed in BENCH/BASELINE.md): ``--scaling-multiproc`` runs N vs 4N
independent single-core JVMs over disjoint shards, and
``--scaling-cluster-interleaved`` runs N vs 4N executors under
``local-cluster`` in alternating pairs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_DOCS_BENCH = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "2000000"))


def _sf_label(sf_dir: str) -> float:
    try:
        return float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        return -1.0


def _bench_input(spark, n_docs: int) -> str:
    """Materialize the synthetic interleaved table ONCE (cached in /tmp,
    keyed by size). The north-rule metric is *validation* throughput
    (docs/sec) — timing the on-the-fly generator would measure the synthetic
    data source, not the engine. Same methodology as the scaling modes."""
    from json_to_avro_schema_spark.sources.synthetic import generate_documents_iv

    path = f"/tmp/bench_docs_iv_{n_docs}.parquet"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        generate_documents_iv(
            spark, n_docs, violation_pct=5, num_partitions=max(CPUS * 4, 64)
        ).write.mode("overwrite").parquet(path)
    return path


def flagship_validation(spark, n_docs: int, path: str | None = None) -> int:
    """Full interleaved-documents validation over the materialized table:
    row checks → per-partition verdict agg + violation-row count, fused
    into ONE scan (runner.verdicts_with_violation_count: Observation
    metrics ride the verdict aggregation job)."""
    from json_to_avro_schema_spark.compiler.plan import compile_document
    from json_to_avro_schema_spark.runner import verdicts_with_violation_count
    from json_to_avro_schema_spark.sources.synthetic import documents_iv_spec

    plan = compile_document(documents_iv_spec())
    df = spark.read.parquet(path or _bench_input(spark, n_docs))
    verd, obs = verdicts_with_violation_count(df, plan)
    verd.collect()  # tiny result: partitions × checks rows
    return int(obs.get["n_rows"])


def run_bench() -> dict:
    from json_to_avro_schema_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app="bench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    path = _bench_input(spark, N_DOCS_BENCH)
    # the warm-up run (JVM/codegen/page-cache cold) is timed too and
    # reported as the COLD number — quoting only the warm number would
    # overstate first-run throughput (VERDICT r01: report both honestly)
    t0 = time.perf_counter()
    flagship_validation(spark, N_DOCS_BENCH, path)
    flagship_cold_sec = time.perf_counter() - t0

    warm_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        n_docs = flagship_validation(spark, N_DOCS_BENCH, path)
        warm_runs.append(time.perf_counter() - t0)
    flagship_sec = sorted(warm_runs)[1]
    timings["flagship_validation"] = round(flagship_sec, 3)

    qs = entrymod.queries()

    # quantile entries time the SKETCH operators (GK percentile_approx /
    # mergeable t-digest) — the scale path a user runs at 100 TB. The
    # driver-contract wrappers additionally compute exact percentiles for
    # oracle comparison; timing that would measure the correctness gate,
    # not the engine.
    def _quantiles_gk(spark, sf):
        from json_to_avro_schema_spark.sources.tables import load_table

        return load_table(spark, sf, "lineitem").agg(
            F.percentile_approx(
                "l_extendedprice", [0.1, 0.25, 0.5, 0.75, 0.9], 10_000
            ).alias("q")
        )

    def _tdigest_only(spark, sf):
        from json_to_avro_schema_spark.operators.tdigest import tdigest_quantiles
        from json_to_avro_schema_spark.sources.tables import load_table

        li = load_table(spark, sf, "lineitem")
        est = tdigest_quantiles(li, "l_extendedprice", [0.1, 0.5, 0.9])
        return spark.createDataFrame([tuple(est)], "q10 double, q50 double, q90 double")

    def _profile_approx(spark, sf):
        from json_to_avro_schema_spark.operators.profile import (
            profile_frame,
            profile_table,
        )
        from json_to_avro_schema_spark.sources.tables import load_table

        li = load_table(spark, sf, "lineitem")
        return profile_frame(li, profile_table(li))

    from pyspark.sql import functions as F

    bench_queries = [
        ("stats_lineitem", qs["stats_lineitem"]),
        ("unique_orders", qs["unique_orders"]),
        # r4: ri_checks/histograms/psi_drift are the r3 *_price/by_flag
        # queries merged (both halves in one labeled union) — expect ~2x
        # the r3 per-query time on these three names, not a regression
        ("ri_checks", qs["ri_checks"]),
        ("histograms", qs["histograms"]),
        ("quantiles_price", _quantiles_gk),
        ("text_analysis", qs["text_analysis"]),
        ("exact_dup_groups", qs["exact_dup_groups"]),
        ("topk_cosine", qs["topk_cosine"]),
        ("token_totals", qs["token_totals"]),
        ("tdigest_price", _tdigest_only),
        ("psi_drift", qs["psi_drift"]),
        ("lang_detect_docs", qs["lang_detect_docs"]),
        ("pii_docs", qs["pii_docs"]),
        ("repetition_docs", qs["repetition_docs"]),
        ("table_checks_lineitem", qs["table_checks_lineitem"]),
        ("simhash_near_dups", qs["simhash_near_dups"]),
        ("topk_price_by_flag", qs["topk_price_by_flag"]),
        # the fully-oracled flagship pipeline over the derived interleaved
        # table (compile spec -> verdicts; violations timed via its twin)
        ("derived_validation_verdicts", qs["derived_validation_verdicts"]),
        ("minhash_near_dups", qs["minhash_near_dups"]),
        # r4 additions: corpus-LM scoring + exact-substring duplication
        ("lm_perplexity_docs", qs["lm_perplexity_docs"]),
        ("dup_ngram_coverage", qs["dup_ngram_coverage"]),
        # r4 session 3: cross-run anomaly check + the profiler in its
        # SCALE mode (approx/HLL distinct + candidate-bounded follow-ups
        # — the gate query's exact_distinct=True multi-distinct Expand is
        # the oracle path, not what a user runs at 100 TB)
        ("metric_anomalies_events", qs["metric_anomalies_events"]),
        ("profile_lineitem_approx", _profile_approx),
        # r4 session 4: named rule sets + excerpt-level decontamination
        ("gopher_rules_docs", qs["gopher_rules_docs"]),
        ("c4_clean_docs", qs["c4_clean_docs"]),
        ("ngram_decontamination", qs["ngram_decontamination"]),
        # r4 session 5: crawl-side URL canonicalization/dedup/domain caps
        ("url_dedup_docs", qs["url_dedup_docs"]),
        # r4 session 5: Dolma-granularity cross-doc paragraph dedup
        ("paragraph_dedup_docs", qs["paragraph_dedup_docs"]),
        # r4 session 5: composed cleaning funnel (attrition report)
        ("corpus_funnel_docs", qs["corpus_funnel_docs"]),
        # r5: learned quality-classifier inference (FineWeb-Edu/DCLM
        # stage) — pure Column logistic scoring, no UDF
        ("classifier_quality_docs", qs["classifier_quality_docs"]),
        # r5: exact binning-free KS + Wasserstein-1 drift (distributed
        # prefix-sum CDFs)
        ("ks_drift", qs["ks_drift"]),
        ("emd_drift", qs["emd_drift"]),
        # r5 session 2: zero-child-shuffle bloom RI pre-filter + temporal
        # operators (gap sessionization rollup, union-trick as-of join)
        ("ri_bloom_dangling", qs["ri_bloom_dangling"]),
        ("session_stats_events", qs["session_stats_events"]),
        ("asof_join_events", qs["asof_join_events"]),
        ("range_join_events", qs["range_join_events"]),
        ("interval_overlaps_events", qs["interval_overlaps_events"]),
        ("sequence_gaps_events", qs["sequence_gaps_events"]),
        ("fd_violations_docs", qs["fd_violations_docs"]),
        # r5 session 3: pairwise Pearson correlation profiling (one
        # fused agg scan over all column pairs) + joint missingness
        # structure (bounded 2^k-group hash-agg)
        ("correlations_lineitem", qs["correlations_lineitem"]),
        ("null_patterns_events", qs["null_patterns_events"]),
        # r5 session 3: snapshot diff (skinny key+fingerprint shuffle)
        ("table_diff_orders", qs["table_diff_orders"]),
        # r5 session 3: per-column Shannon entropy (one-pass, all cols)
        ("entropy_docs", qs["entropy_docs"]),
        # r5 session 3: mutual information (one groupingSets scan)
        ("mutual_info_docs", qs["mutual_info_docs"]),
        # r5 session 4: index-free BM25 search (HOF tf projection + one
        # scalar agg + TakeOrdered) and per-doc TF-IDF keyword extraction
        # (token-scale postings + vocab df + WindowGroupLimit rank)
        ("bm25_search_docs", qs["bm25_search_docs"]),
        ("tfidf_top_terms_docs", qs["tfidf_top_terms_docs"]),
        # r5 session 4: row-level MAD/IQR outlier union (group-scale
        # percentile aggs broadcast back, corpus never shuffles)
        ("outliers_events", qs["outliers_events"]),
        # r5 session 4: FD discovery (one grouped agg per determinant)
        ("fd_suggest_docs", qs["fd_suggest_docs"]),
        # r5 session 4: weighted A-ES sample (TakeOrdered on priority)
        ("weighted_sample_docs", qs["weighted_sample_docs"]),
        # r5 session 4: quantile discretization + Benford digit screen
        ("quantile_bins_lineitem", qs["quantile_bins_lineitem"]),
        ("benford_lineitem", qs["benford_lineitem"]),
        # r5 session 4b: exact prefix-filtered set-similarity join (gate
        # slice — the synthetic corpus is adversarially self-similar, so
        # the slice keeps the brute-force oracle tractable) and the
        # Z-order Morton key projection
        ("set_similarity_pairs", qs["set_similarity_pairs"]),
        ("zorder_events", qs["zorder_events"]),
        # r5 session 4b: the Arrow/pandas surface under load — one
        # mapInPandas NFC+lower+collapse pass over the full corpus
        ("normalize_unicode_docs", qs["normalize_unicode_docs"]),
        # r5 session 4b: group-stats-broadcast scaling + blocking-based
        # Levenshtein linkage (gate slice)
        ("standardize_lineitem", qs["standardize_lineitem"]),
        ("fuzzy_match_customers", qs["fuzzy_match_customers"]),
    ]
    for name, fn in bench_queries:
        fn(spark, SF_DIR).collect()  # warm: codegen, readers, py-workers
        # median of 3 timed runs: single-shot numbers on this VM carry
        # 2-5x noise spikes (hypervisor/GC), which poisoned round-to-round
        # comparisons; the median is stable to <10%
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, SF_DIR).collect()
            runs.append(time.perf_counter() - t0)
        timings[name] = round(sorted(runs)[1], 3)

    total = round(sum(timings.values()), 3)
    return {
        "metric": "end_to_end_validation_and_checks_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_label(SF_DIR),
        "docs_per_sec": round(n_docs / flagship_sec, 1),
        "docs_per_sec_cold": round(n_docs / flagship_cold_sec, 1),
        "flagship_cold_sec": round(flagship_cold_sec, 3),
        "bench_docs": N_DOCS_BENCH,
        "cpus": CPUS,
        # VM-drift gauge: stats_lineitem's code path never changes round
        # to round, so its ratio across BENCH_r{N}.json files calibrates
        # this VM's 2-5x hourly speed drift — normalize other queries'
        # round-over-round deltas by it before calling them regressions
        # (methodology note in BENCH/BASELINE.md).
        "phase_gauge_sec": timings.get("stats_lineitem"),
    }


SCALE_DOCS = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "40000000"))
SCALE_DATA = os.environ.get(
    "SPARK_GRAFT_SCALE_DATA", f"/tmp/docs_iv_{SCALE_DOCS // 1_000_000}m.parquet"
)
SCALE_PAIR = tuple(
    int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_PAIR", "2,8").split(",")
)
SCALE_TRIALS = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "2"))


def _scaling_gen() -> None:
    """Write the scaling input once (validation-only measurement: the north
    rule's metric is *validation* throughput; generating on the fly would
    time the synthetic generator, not the engine)."""
    from json_to_avro_schema_spark.session import get_spark
    from json_to_avro_schema_spark.sources.synthetic import generate_documents_iv

    spark = get_spark(app="scale-gen", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    generate_documents_iv(
        spark, SCALE_DOCS, violation_pct=5, num_partitions=max(CPUS * 4, 64)
    ).write.mode("overwrite").parquet(SCALE_DATA)


def _shard_child(n_workers: int, idx: int) -> None:
    """One executor-analog: a separate single-core JVM (local[1], own heap)
    validating its strided shard of the input files. Prints
    {start, end, sec, docs} where start/end bracket the validation only
    (JVM/Spark startup excluded)."""
    import glob

    from json_to_avro_schema_spark.compiler.plan import compile_document
    from json_to_avro_schema_spark.runner import verdicts_with_violation_count
    from json_to_avro_schema_spark.session import get_spark
    from json_to_avro_schema_spark.sources.synthetic import (
        documents_iv_rich_spec,
        documents_iv_spec,
    )

    spark = get_spark(app=f"shard{idx}", cpus=1)
    spark.sparkContext.setLogLevel("ERROR")
    # default 'rich': production-density constraint surface (~3× the checks
    # of the minimal flagship spec) — the minimal spec is parquet-decode-
    # bound at high core counts and measures the decoder, not the engine
    spec_kind = os.environ.get("SPARK_GRAFT_SCALE_SPEC", "rich")
    plan = compile_document(
        documents_iv_rich_spec() if spec_kind == "rich" else documents_iv_spec()
    )
    files = sorted(glob.glob(os.path.join(SCALE_DATA, "part-*")))[idx::n_workers]
    df = spark.read.parquet(*files)

    def run() -> int:
        verd, obs = verdicts_with_violation_count(df, plan)
        verd.collect()
        return int(obs.get["n_rows"])

    # barrier protocol: warm codegen/JIT on one file, signal READY, wait
    # for GO, then validate in a fully-synchronized concurrent window —
    # without it, staggered JVM starts + ramp-up amortization bias the
    # small-ensemble config (it runs 4× longer over the same fixed costs)
    barrier = os.environ.get("SPARK_GRAFT_BARRIER_DIR")
    if barrier:
        verd_w, obs_w = verdicts_with_violation_count(
            spark.read.parquet(files[0]), plan
        )
        verd_w.collect()
        with open(os.path.join(barrier, f"ready_{idx}"), "w") as f:
            f.write("1")
        while not os.path.exists(os.path.join(barrier, "go")):
            time.sleep(0.2)
    t0 = time.time()
    n = run()
    t1 = time.time()
    print(json.dumps({"start": t0, "end": t1, "sec": t1 - t0, "docs": n}))


def _run_ensemble(n_workers: int) -> dict:
    """Launch n_workers shard children concurrently (separate JVMs, 1 core +
    fixed per-executor heap each — the executor model). A filesystem
    barrier aligns their measured windows: every child warms up, signals
    ready, and validates only once all are ready. Ensemble time = the
    slowest child's validation seconds (the straggler defines job
    completion, as on a real cluster)."""
    import tempfile

    mem = os.environ.get("SPARK_GRAFT_MEM_PER_CORE_G", "2")
    barrier = tempfile.mkdtemp(prefix="shard_barrier_")
    procs = [
        subprocess.Popen(
            [sys.executable, __file__, "--scaling-shard", str(n_workers), str(i)],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            cwd=REPO,
            env={**os.environ, "SPARK_DRIVER_MEMORY": f"{mem}g",
                 "SPARK_GRAFT_CPUS": "1",
                 "SPARK_GRAFT_BARRIER_DIR": barrier},
        )
        for i in range(n_workers)
    ]
    deadline = time.time() + 600
    while time.time() < deadline:
        ready = sum(
            os.path.exists(os.path.join(barrier, f"ready_{i}"))
            for i in range(n_workers)
        )
        if ready == n_workers:
            break
        time.sleep(0.5)
    with open(os.path.join(barrier, "go"), "w") as f:
        f.write("1")
    outs = []
    for p in procs:
        out, _ = p.communicate(timeout=3600)
        line = [l for l in out.splitlines() if l.startswith("{")][-1]
        outs.append(json.loads(line))
    sec = max(o["sec"] for o in outs)
    docs = sum(o["docs"] for o in outs)
    return {"workers": n_workers, "span_sec": sec, "docs": docs,
            "docs_per_sec": docs / sec}


def run_scaling_multiproc(
    n_small: int | None = None, n_large: int | None = None
) -> dict:
    """N vs 4N *executor-analog* scaling: W independent single-core JVMs
    over disjoint shards of the same input — the sandbox model of N vs 4N
    executors (each executor = own JVM + own heap, exactly how
    spark-submit deploys them; the validation job is partition-parallel, so
    shard-per-executor is its real execution shape). local[N] thread
    scaling in ONE shared JVM/heap under-reports this (allocation/GC
    contention that separate executors don't share) — both are reported in
    BENCH/BASELINE.md. Two ensemble rounds each; round 1 warms page cache,
    round 2 is measured; min of repeats."""
    n_small = n_small or SCALE_PAIR[0]
    n_large = n_large or SCALE_PAIR[1]
    if not os.path.exists(SCALE_DATA):
        subprocess.run(
            [sys.executable, __file__, "--scaling-gen"],
            check=True, cwd=REPO, timeout=1800,
        )
    results = {}
    for w in (n_small, n_large):
        best = None
        for _ in range(max(SCALE_TRIALS, 2)):
            r = _run_ensemble(w)
            if best is None or r["span_sec"] < best["span_sec"]:
                best = r
        results[w] = best
    tput_s = results[n_small]["docs_per_sec"]
    tput_l = results[n_large]["docs_per_sec"]
    ratio = n_large / n_small
    efficiency = (tput_l / tput_s) / ratio
    return {
        "mode": "multiproc-executor-analog",
        "n_docs": results[n_large]["docs"],
        f"exec{n_small}_sec": round(results[n_small]["span_sec"], 2),
        f"exec{n_large}_sec": round(results[n_large]["span_sec"], 2),
        f"exec{n_small}_docs_per_sec": round(tput_s, 1),
        f"exec{n_large}_docs_per_sec": round(tput_l, 1),
        "scaling_efficiency": round(efficiency, 3),
        "target": 0.8,
        "meets_target": efficiency >= 0.8,
    }


def _cluster_child(n_exec: int, cores: int) -> None:
    """One timed validation under ``local-cluster[n_exec, cores, mem]`` —
    REAL multi-executor Spark: the driver JVM plus n_exec separate executor
    JVMs (own heap each), tasks dispatched over RPC, shuffle over netty.
    This is the exact runtime shape `spark-submit --py-files` deploys on a
    standalone cluster, minus the network between machines. Warm run then
    measured run."""
    from json_to_avro_schema_spark.compiler.plan import compile_document
    from json_to_avro_schema_spark.runner import verdicts_with_violation_count
    from json_to_avro_schema_spark.session import get_spark
    from json_to_avro_schema_spark.sources.synthetic import (
        documents_iv_rich_spec,
        documents_iv_spec,
    )

    os.environ.setdefault("SPARK_HOME", "/opt/spark")
    mem_mb = int(os.environ.get("SPARK_GRAFT_MEM_PER_CORE_G", "2")) * cores * 1024
    total = n_exec * cores
    spark = get_spark(
        app=f"cluster{n_exec}x{cores}", cpus=total,
        master=f"local-cluster[{n_exec},{cores},{mem_mb}]",
    )
    spark.sparkContext.setLogLevel("ERROR")
    # Finer scan tasks (32 MB vs the 128 MB default): the validation job is
    # CPU-bound (~6 s of work per 128 MB task), so the default quantizes the
    # 2.7 GB input into ~22 tasks — 2.75 uneven waves on 8 cores, ~15% idle
    # tail at the larger config while the 2-core config divides evenly. The
    # same conf is applied to BOTH cluster sizes (it is a fairness fix, not a
    # large-config-only tweak) and matches real-cluster practice of sizing
    # scan tasks to >=3-4 waves per core.
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
    spec_kind = os.environ.get("SPARK_GRAFT_SCALE_SPEC", "rich")
    plan = compile_document(
        documents_iv_rich_spec() if spec_kind == "rich" else documents_iv_spec()
    )

    def run() -> int:
        verd, obs = verdicts_with_violation_count(
            spark.read.parquet(SCALE_DATA), plan
        )
        verd.collect()
        return int(obs.get["n_rows"])

    run()  # warmup: page cache + codegen + executor registration
    t0 = time.perf_counter()
    n = run()
    dt = time.perf_counter() - t0
    print(json.dumps({"executors": n_exec, "cores": cores, "sec": dt,
                      "docs": n, "docs_per_sec": n / dt}))


def run_scaling_cluster_interleaved(
    n_small: int | None = None, n_large: int | None = None, cores: int = 2,
    rounds: int | None = None,
) -> dict:
    """N vs 4N *executors* under local-cluster: separate executor JVMs with
    real task dispatch + netty shuffle (vs --scaling-multiproc's independent
    single-JVM shards, which model executors but bypass Spark's scheduler).
    Default 1 vs 4 executors × 2 cores (2 vs 8 total) — the band below this
    VM's DRAM-bandwidth ceiling (BENCH/BASELINE.md). Drift-resistant:
    instead of running all small-config trials then all large-config
    trials (a ~35-minute span a single hypervisor phase change can bisect
    — observed 2026-08-19, where same-session memory-BW ceilings swung
    0.41/0.94/0.20 and the grouped protocol read 0.683 on a validation
    path that measured 0.93+ in three earlier sessions), alternate
    small,large,small,large,... and compute the efficiency of each
    ADJACENT pair, reporting the median. A phase
    shift then lands inside one pair (visible as pair spread) rather than
    biasing every pair the same way — the same interleaving rationale as
    the funnel persist A/B (BENCH/BASELINE.md §1d). Each child still warms
    up internally, so pairs stay warm-vs-warm."""
    n_small = n_small or int(os.environ.get("SPARK_GRAFT_CLUSTER_SMALL", "1"))
    n_large = n_large or int(os.environ.get("SPARK_GRAFT_CLUSTER_LARGE", "4"))
    rounds = rounds or int(os.environ.get("SPARK_GRAFT_CLUSTER_ROUNDS", "3"))
    if not os.path.exists(SCALE_DATA):
        subprocess.run(
            [sys.executable, __file__, "--scaling-gen"],
            check=True, cwd=REPO, timeout=1800,
        )

    def child(n_exec: int) -> dict:
        out = subprocess.run(
            [sys.executable, __file__, "--scaling-cluster-child",
             str(n_exec), str(cores)],
            capture_output=True, text=True, cwd=REPO, timeout=1800,
            env={**os.environ, "SPARK_DRIVER_MEMORY": "4g"},
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    ratio = n_large / n_small
    pairs = []
    n_docs = 0
    for i in range(rounds):
        small = child(n_small)
        large = child(n_large)
        n_docs = large["docs"]
        eff = (large["docs_per_sec"] / small["docs_per_sec"]) / ratio
        pairs.append({
            "round": i + 1,
            f"exec{n_small}_sec": round(small["sec"], 2),
            f"exec{n_large}_sec": round(large["sec"], 2),
            f"exec{n_small}_docs_per_sec": round(small["docs_per_sec"], 1),
            f"exec{n_large}_docs_per_sec": round(large["docs_per_sec"], 1),
            "efficiency": round(eff, 3),
        })
        print(json.dumps({"pair": pairs[-1]}), file=sys.stderr, flush=True)
    effs = sorted(p["efficiency"] for p in pairs)
    median = effs[len(effs) // 2] if len(effs) % 2 else round(
        (effs[len(effs) // 2 - 1] + effs[len(effs) // 2]) / 2, 3
    )
    return {
        "mode": "local-cluster-executors-interleaved",
        "cores_per_executor": cores,
        "n_docs": n_docs,
        "rounds": pairs,
        "median_efficiency": median,
        "best_efficiency": effs[-1],
        "target": 0.8,
        "meets_target": median >= 0.8,
    }


def run_packing_bench() -> dict:
    """10M-row prefix-sum timings: packed_shards (global order) and
    select_mixture (grouped, 8 sources) — the by= path had an A/B'd
    design but no bench number. Also asserts the executed mixture plan
    stays broadcast-joined end to end (offsets + targets are O(P)/O(
    groups) rows; a SortMergeJoin here would sort the full data side)."""
    from pyspark.sql import functions as F

    from json_to_avro_schema_spark.operators.packing import (
        packed_shards,
        select_mixture,
    )
    from json_to_avro_schema_spark.session import get_spark

    n = int(os.environ.get("SPARK_GRAFT_PACK_DOCS", "10000000"))
    spark = get_spark(app="packing-bench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    df = (
        spark.range(n)
        .repartition(CPUS * 2)
        .selectExpr(
            "id AS doc_id",
            "(id * 37) % 997 + 1 AS n_tokens",
            "concat('src', id % 8) AS source",
        )
        .persist()
    )
    df.count()
    out = {"n_docs": n, "cpus": CPUS}

    def timed(build):
        runs = []
        build().collect()  # warm codegen
        for _ in range(3):
            t0 = time.perf_counter()
            build().collect()
            runs.append(time.perf_counter() - t0)
        return round(sorted(runs)[1], 3)

    out["packed_shards_sec"] = timed(
        lambda: packed_shards(df, "n_tokens", "doc_id", 1_000_000).agg(
            F.max("shard_id"), F.count(F.lit(1))
        )
    )
    # worst case of the pid-bucket cap: 4096 bound literals scanned per
    # row — evidence the capped O(P) pid assignment stays cheap
    out["packed_shards_4096_buckets_sec"] = timed(
        lambda: packed_shards(
            df, "n_tokens", "doc_id", 1_000_000, num_partitions=1 << 30
        ).agg(F.max("shard_id"), F.count(F.lit(1)))
    )
    targets = {f"src{i}": 200_000_000 for i in range(8)}
    out["select_mixture_grouped_sec"] = timed(
        lambda: select_mixture(df, "n_tokens", "doc_id", "source", targets).agg(
            F.count(F.lit(1)), F.sum("n_tokens")
        )
    )
    plan = (
        select_mixture(df, "n_tokens", "doc_id", "source", targets)
        ._jdf.queryExecution().executedPlan().toString()
    )
    out["mixture_plan_no_sortmergejoin"] = "SortMergeJoin" not in plan
    df.unpersist()
    return out


def run_web_bench() -> dict:
    """Scale-point evidence for the r4s5 crawl-side operators (10 M rows,
    deliberately skewed): (a) the paragraph-dedup winner rule — rank-1
    WindowGroupLimit pushdown vs the groupBy(min)+join composition it
    replaced — under a 30%%-hot paragraph key (the cookie-banner shape);
    (b) URL canonicalization + domain extraction throughput (one codegen'd
    projection over 10 M URLs); (c) domain_caps under a 30%%-hot domain.
    SPARK_GRAFT_WEB_DOCS overrides the row count."""
    from pyspark.sql import functions as F

    from json_to_avro_schema_spark.operators.topk import grouped_topk
    from json_to_avro_schema_spark.operators.web import (
        domain_caps,
        normalize_url,
        url_domain,
    )
    from json_to_avro_schema_spark.session import get_spark

    n = int(os.environ.get("SPARK_GRAFT_WEB_DOCS", "10000000"))
    spark = get_spark(app="web-bench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    out = {"n_rows": n, "cpus": CPUS, "hot_share": 0.3}

    def timed(build):
        runs = []
        build().collect()  # warm codegen
        for _ in range(3):
            t0 = time.perf_counter()
            build().collect()
            runs.append(time.perf_counter() - t0)
        return round(sorted(runs)[1], 3)

    # (a) paragraph winner rule: 30% of occurrences share ONE key
    occ = (
        spark.range(n)
        .repartition(CPUS * 2)
        .selectExpr(
            "id AS doc_id",
            "CAST(id % 40 AS INT) AS __pos",
            "CASE WHEN id % 10 < 3 THEN CAST(0 AS LONG) "
            "ELSE xxhash64(id) END AS __pkey",
        )
        .persist()
    )
    occ.count()
    out["winner_rank1_pushdown_sec"] = timed(
        lambda: grouped_topk(
            occ, ["__pkey"],
            [F.col("doc_id").asc(), F.col("__pos").asc()],
            1, rank_col="__prk",
        ).agg(F.count(F.lit(1)), F.sum("doc_id"))
    )

    def agg_join():
        winners = occ.groupBy("__pkey").agg(
            F.min(F.struct("doc_id", "__pos")).alias("__first")
        )
        return (
            occ.join(winners, "__pkey")
            .filter(
                (F.col("__first.doc_id") == F.col("doc_id"))
                & (F.col("__first.__pos") == F.col("__pos"))
            )
            .agg(F.count(F.lit(1)), F.sum("doc_id"))
        )

    out["winner_aggjoin_sec"] = timed(agg_join)
    plan = grouped_topk(
        occ, ["__pkey"],
        [F.col("doc_id").asc(), F.col("__pos").asc()],
        1, rank_col="__prk",
    )._jdf.queryExecution().executedPlan().toString()
    out["winner_plan_partial_wgl"] = (
        "WindowGroupLimit" in plan and "Partial" in plan
    )
    occ.unpersist()

    # (b)+(c) URL surface: 10 M planted URLs, one 30%-hot domain
    urls = (
        spark.range(n)
        .repartition(CPUS * 2)
        .selectExpr(
            "id AS doc_id",
            "concat('https://WWW.Site', "
            "CASE WHEN id % 10 < 3 THEN '0' ELSE CAST(id % 100000 AS STRING) "
            "END, '.com:443/Path/', CAST(id AS STRING), "
            "'/?b=2&a=1&utm_source=feed#frag') AS url",
        )
        .persist()
    )
    urls.count()
    out["normalize_url_10m_sec"] = timed(
        lambda: urls.select(
            normalize_url(F.col("url")).alias("c"),
            url_domain(F.col("url")).alias("d"),
        ).agg(F.count_distinct("d"), F.max(F.length("c")))
    )
    out["domain_caps_hot_domain_sec"] = timed(
        lambda: domain_caps(urls, cap=100).agg(
            F.count(F.lit(1)), F.sum("doc_id")
        )
    )
    urls.unpersist()
    out["urls_per_sec"] = round(n / out["normalize_url_10m_sec"])
    return out


def run_corpus_bench() -> dict:
    """End-to-end 10 M-row skewed scale point for the two operators whose
    join-backs were restructured in r5 (VERDICT r4 #2/#3): corpus_funnel
    (single loser join-back) and paragraph_dedup (loser-position
    inversion). Skew: 30%% of docs share ONE boilerplate paragraph (the
    cookie-banner shape) and 30%% of pages sit on ONE hot domain; every
    4-id group carries 4 URL surface variants so the dedup stages fire.
    SPARK_GRAFT_WEB_DOCS overrides the row count. The before/after A/B
    against the r4 binary is recorded in BENCH/BASELINE.md §1d."""
    from pyspark.sql import functions as F

    from json_to_avro_schema_spark.operators.dedup import paragraph_dedup
    from json_to_avro_schema_spark.operators.funnel import corpus_funnel
    from json_to_avro_schema_spark.session import get_spark

    n = int(os.environ.get("SPARK_GRAFT_WEB_DOCS", "10000000"))
    spark = get_spark(app="corpus-bench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    out = {"n_rows": n, "cpus": CPUS, "hot_share": 0.3}

    def timed(build):
        runs = []
        build().collect()  # warm codegen + readers
        for _ in range(3):
            t0 = time.perf_counter()
            build().collect()
            runs.append(time.perf_counter() - t0)
        return round(sorted(runs)[1], 3)

    docs = (
        spark.range(n)
        .repartition(CPUS * 2)
        .selectExpr(
            "cast(id AS string) AS doc_id",
            # 3 paragraphs: 30%-hot boilerplate, a per-doc unique line,
            # a 100k-class shared line — every paragraph-dedup path fires
            "concat("
            " CASE WHEN id % 10 < 3 THEN 'accept all cookies to continue'"
            "      ELSE concat('lead para ', cast(id AS string)) END,"
            " '\n', 'body text line ', cast(id AS string),"
            " '\n', 'shared tail ', cast(id % 100000 AS string)) AS text",
            # 4 surface variants per page group; 30% of groups hot-domain
            "concat('https://', "
            " CASE WHEN id % 10 < 3 THEN 'WWW.Hot0' "
            "      ELSE concat('Site', cast((id div 4) % 100000 AS string))"
            " END, '.com', "
            " CASE WHEN id % 4 = 2 THEN ':443' ELSE '' END, "
            " '/p/', cast(id div 4 AS string), "
            " CASE WHEN id % 4 = 0 THEN '?b=2&a=1'"
            "      WHEN id % 4 = 1 THEN '?a=1&b=2'"
            "      WHEN id % 4 = 2 THEN '/?a=1&b=2&utm_source=feed'"
            "      ELSE '?a=1&utm_campaign=x&b=2#frag' END) AS url",
        )
        .persist()
    )
    docs.count()

    out["paragraph_dedup_10m_sec"] = timed(
        lambda: paragraph_dedup(docs).agg(
            F.count(F.lit(1)),
            F.sum("dup_paras"),
            F.sum(F.length("clean_text")),
        )
    )

    # mostly-clean regime (the typical post-URL-dedup crawl): ~1% of docs
    # carry the hot boilerplate, everything else unique — the loser set is
    # small and the join-back side broadcasts
    clean = (
        spark.range(n)
        .repartition(CPUS * 2)
        .selectExpr(
            "cast(id AS string) AS doc_id",
            "concat("
            " CASE WHEN id % 100 = 0 THEN 'accept all cookies to continue'"
            "      ELSE concat('lead para ', cast(id AS string)) END,"
            " '\n', 'body text line ', cast(id AS string)) AS text",
        )
        .persist()
    )
    clean.count()
    out["paragraph_dedup_clean_10m_sec"] = timed(
        lambda: paragraph_dedup(clean).agg(
            F.count(F.lit(1)),
            F.sum("dup_paras"),
            F.sum(F.length("clean_text")),
        )
    )
    clean.unpersist()

    blocked = spark.createDataFrame(
        [("site7.com",), ("site13.com",)], "domain string"
    )

    class _CollectThenRelease:
        """collect() the report, then unpersist that run's pruned-frame
        cache so the 4 timed runs don't accumulate cached copies."""

        def __init__(self, report, res):
            self._report, self._res = report, res

        def collect(self):
            try:
                return self._report.collect()
            finally:
                self._res.unpersist()

    def funnel_report():
        res = corpus_funnel(
            docs, blocked_domains=blocked,
            keep_if=F.length("text") >= 20,
        )
        report = res.annotated.groupBy("drop_stage").agg(
            F.count(F.lit(1)), F.sum(F.length("text"))
        )
        return _CollectThenRelease(report, res)

    out["corpus_funnel_10m_sec"] = timed(funnel_report)
    docs.unpersist()
    return out


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--scaling-gen":
        _scaling_gen()
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-shard":
        _shard_child(int(sys.argv[2]), int(sys.argv[3]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-cluster-child":
        _cluster_child(int(sys.argv[2]), int(sys.argv[3]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-cluster-interleaved":
        print(json.dumps(run_scaling_cluster_interleaved()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--scaling-multiproc":
        print(json.dumps(run_scaling_multiproc()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--packing-bench":
        print(json.dumps(run_packing_bench()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--web-bench":
        print(json.dumps(run_web_bench()))
    elif len(sys.argv) > 1 and sys.argv[1] == "--corpus-bench":
        print(json.dumps(run_corpus_bench()))
    else:
        print(json.dumps(run_bench()))

"""Multi-scale-factor smoke: ops must be generic over sf_dir.

The driver runs entry() at sf0.001, correctness at sf0.01, bench at sf0.1 —
an op that hardcodes any fixture-size assumption breaks silently until the
wrong gate. A representative op per family runs at BOTH other scale factors
(rows-only: the DuckDB oracle at sf0.01 already pins values)."""

from __future__ import annotations

import pytest

from python_kinesis_streaming_spark.registry import all_queries

Q = all_queries()

REPRESENTATIVE = [
    "agg_groupby_q1",       # the t1 entry query
    "join_multiway",
    "win_rank_topn",
    "fn_json",
    "stream_tumbling",      # streaming replay at a different sf
    "dedup_near_minhash",   # injection logic must not assume doc count
    "sim_knn_cosine",
    "text_tfidf",
    "pivot_wide",
    "q17_correlated_avg",
    # round-2 ops with size-sensitive logic
    "text_ngram_freq",        # 1-token-doc guard must hold at any corpus
    "corpus_pack_sequences",  # bin math over varying doc counts
    "join_range_bucketed",    # bucket explosion at varying densities
    # late-round-2 ops with size-sensitive logic
    "q18_large_orders",       # HAVING threshold must stay non-degenerate
    "ts_gap_fill",            # per-user calendar spine at varying spans
    "sim_ivf_probe",          # centroid routing over varying corpus sizes
    "pareto_share",           # integer-cents cumsum at varying order counts
    "multimodal_frame_sample",  # payload-length arithmetic
    "win_gaps_islands",       # streak grouping across different day spans
    # round-4 ops with size-sensitive logic
    "text_chunk_overlap",     # chunk-grid math over varying doc lengths
    "emb_gram_matrix",        # partial-gram merge over varying batch counts
    "emb_kmeans_one_iter",    # centroid broadcast over varying corpus sizes
    "events_time_to_convert", # latency buckets over varying event densities
    # mid-round-4 ops with size-sensitive logic
    "corpus_epoch_plan",      # token-budget epoch math at varying corpus sizes
    "multimodal_phash_bands", # >=64-byte filter + reduceat block math
    "dedup_lsh_tuning",       # banded self-joins at varying vocab densities
    "join_bloom_prefilter",   # bitset saturation at sf0.1 key cardinality
    "feat_pit_training_set",  # strictly-before frames at varying densities
    "corpus_length_batching", # log2 bucket math over varying doc lengths
    "text_ngram_novelty",     # >=3-token guard + first-occurrence join-back
    "ts_seasonal_decompose",  # 7-day-window NULL guard at short spans
    # round-4 continuation ops with size-sensitive logic
    "ts_linear_interpolate",  # per-user spine spans at varying densities
    "events_markov_accuracy",  # temporal split must be non-degenerate
    "funnel_three_step_windowed",  # step scarcity at small SFs (null-safe rates)
    "corpus_cross_source_leakage",  # every-25th injection at varying doc counts
    "ts_rolling_distinct_hll",  # 7-day frames over varying day spans
    "events_attribution_time_decay",  # lookback pair density
    "dedup_eval_precision_recall",  # injected-truth set size varies
    "emb_knn_graph",  # label-block sizes at sf0.1 (2000 vecs)
    "scan_csv_malformed",  # fixed 20-row injection over varying exports
    "agg_minhash_jaccard",  # per-type audience sizes vary
    "ts_forecast_backtest",  # train/holdout split must hold at any density
    "dedup_survivorship_golden",  # every-25th injection at varying doc counts
    "part_brand_positioning",  # per-brand medians over varying fact sizes
    # round-9 wave-2 ops with size-sensitive logic
    "sim_cascade_recall_audit",  # top-50 prefilter over a 50-vec sf0.001 corpus
    "corpus_dedup_funnel",  # three injection cadences at varying doc counts
    "text_source_kl_divergence",  # vocab-size smoothing at tiny corpora
    "lakehouse_incremental_dedup",  # novel-batch arithmetic at any doc count
]


def _split_representative():
    from tests.corpus_sets import scratch_or_stateful

    unsafe = scratch_or_stateful()
    pure = [n for n in REPRESENTATIVE if n not in unsafe]
    seq = [n for n in REPRESENTATIVE if n in unsafe]
    return pure, seq


_PURE_REPR, _SEQ_REPR = _split_representative()


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.1"])
@pytest.mark.parametrize("name", _SEQ_REPR)
def test_runs_at_sf(name, sf, spark):
    df = Q[name](spark, sf)
    assert df.columns
    assert df.count() >= 0


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.1"])
def test_pure_ops_run_at_sf_threaded(sf, spark):
    """The pure (no-scratch) representative ops at the other two SFs,
    fanned out through a driver-side thread pool (guide §2.6) — same
    coverage as the old per-op parametrization, ~3× the throughput
    (the r15 verify-budget fix; scratch-touching ops stay sequential
    above)."""
    from concurrent.futures import ThreadPoolExecutor

    def one(name):
        try:
            df = Q[name](spark, sf)
            assert df.columns
            assert df.count() >= 0
            return None
        except Exception as exc:  # noqa: BLE001 — collected and asserted
            return (name, repr(exc)[:300])

    with ThreadPoolExecutor(max_workers=6) as pool:
        failures = [r for r in pool.map(one, _PURE_REPR) if r]
    assert not failures, f"{len(failures)} ops failed at {sf}: {failures}"


def test_representative_split_is_complete():
    assert sorted(_PURE_REPR + _SEQ_REPR) == sorted(REPRESENTATIVE)


# Round-4 streaming oracles, run in FULL at sf0.001 as well as sf0.01. The
# ones that still encode chunk boundaries as size-parametric SQL (n,
# ceil(n/4), 0.3n computed in the query) are stream_watermark_late, the
# update leg of stream_output_modes and multimodal_decode; the sf0.001 run
# checks that this sf0.01-calibrated model generalizes.
ROUND4_ORACLED = [
    "stream_watermark_late",
    "stream_output_modes",
    "join_stream_stream_outer",
    "multimodal_decode",
]


@pytest.fixture(scope="module")
def duck_small():
    import duckdb

    from python_kinesis_streaming_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", ROUND4_ORACLED)
def test_oracle_parity_small_sf(name, spark, duck_small):
    from python_kinesis_streaming_spark.registry import all_oracles

    from tests.twin import assert_twin_match

    spark_df = Q[name](spark, "/root/testdata/sf0.001").toPandas()
    duck_df = duck_small.execute(all_oracles()[name]).df()
    assert_twin_match(spark_df, duck_df, f"{name}@sf0.001")

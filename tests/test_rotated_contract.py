"""Oracle verification for the contract entries outside the driver's
50-slot correctness window (``OFF_WINDOW_QUERIES``).

The driver hash-checks at most 50 queries. The off-window entries --
verification twins and simpler siblings of window rows, and candidates
for the next rotation -- keep the SAME Spark-vs-DuckDB comparison here:
row count, sorted-column schema, and exact canonical value equality,
imported straight from tools/check_oracle.py so the two gates cannot
drift.
"""

import pytest

# tools/ is a namespace package under the repo root (already on
# sys.path via conftest); importing keeps ONE copy of the
# canonicalization rules
from tools.check_oracle import frame_to_rows as _frame_to_rows


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    from letsearch_spark.queries import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def _off_window_names():
    from letsearch_spark.queries import OFF_WINDOW_QUERIES

    return sorted(OFF_WINDOW_QUERIES)


@pytest.mark.parametrize("name", _off_window_names())
def test_off_window_entry_matches_oracle(spark, sf_dir, duck, name):
    from letsearch_spark.queries import OFF_WINDOW_ORACLES, OFF_WINDOW_QUERIES

    sdf = OFF_WINDOW_QUERIES[name](spark, sf_dir)
    s_cols, s_rows = _frame_to_rows(
        sdf.columns, [tuple(r) for r in sdf.collect()]
    )
    oracle = OFF_WINDOW_ORACLES[name]
    ddf = duck.sql(oracle(sf_dir) if callable(oracle) else oracle)
    d_cols, d_rows = _frame_to_rows(list(ddf.columns), ddf.fetchall())
    assert s_cols == d_cols
    assert len(s_rows) == len(d_rows)
    assert s_rows == d_rows


def test_rotation_bookkeeping():
    """The driver window stays exactly 50, off-window names are gone
    from it, and every query in either registry has an oracle."""
    from letsearch_spark.queries import (
        OFF_WINDOW_ORACLES,
        OFF_WINDOW_QUERIES,
        QUERIES,
        oracles_with_computed,
    )

    assert len(QUERIES) == 50
    assert set(OFF_WINDOW_QUERIES) == set(OFF_WINDOW_ORACLES)
    assert not set(OFF_WINDOW_QUERIES) & set(QUERIES)
    oracles = oracles_with_computed()
    missing = set(QUERIES) - set(oracles)
    assert not missing, f"queries without an oracle: {sorted(missing)}"
    for new in (
        "dsir_sample",
        "perplexity_filter",
        "semantic_dedup",
        "stream_sessionize",
        # round-5 rotation (token_count_bpe was displaced again by the
        # r10 rotation -- asserted in the displaced list below)
        "pq_adc_topk",
        "dedup_substring_spans",
        "quality_classifier_keep",
        # round-6 rotation
        "decontaminate_bloom",
        "curriculum_order",
        "mine_hard_negatives",
        "split_leakage_safe",
        # round-7 rotation
        "training_pairs",
        "vocab_coverage",
        "corpus_data_card",
        "eval_lsh_recall",
        # round-8 rotation
        "dedup_survivor_quality",
        "ann_hamming_topk",
        "token_count_unigram",
        "sample_stratified_exact",
        "export_shards_manifest",
        # (fim_transform was displaced again by the r10 rotation --
        # asserted in the displaced list below)
        # round-9 rotation
        "search_maxsim_collection",
        "s_wet_ingest",
        "embed_pca_model",
        "url_quality_filter",
        "sft_render_chat",
        "interleave_order",
        # round-10 rotation
        "token_count_byte_bpe",
        "s_warc_html_ingest",
        "c4_page_filter",
        "eval_hamming_recall",
        "span_corruption",
    ):
        assert new in QUERIES and new in oracles
    for displaced in (
        # round-6 rotation
        "dedup_exact",
        "dedup_lines",
        # round-7 rotation
        "dedup_ngram_jaccard",
        "quantize_f16_roundtrip",
        # round-8 rotation
        "ann_lsh_topk",
        "dedup_simhash_pairs",
        "sample_mixture",
        "multimodal_frame_sample",
        # round-9 rotation
        "dedup_minhash_components",
        "dedup_embedding_cosine_lsh",
        "decontaminate_containment",
        "sample_train_test_split",
        "stream_windowed_counts",
        # round-10 rotation
        "token_count_bpe",
        "fim_transform",
    ):
        assert displaced in OFF_WINDOW_QUERIES and displaced not in QUERIES

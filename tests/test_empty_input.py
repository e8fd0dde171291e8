"""Empty-input robustness: a partition-pruned-to-empty input is routine
at scale (a date filter past the newest partition, a tenant with no data
yet) — operators must return empty results, never throw.

The full registry-wide sweep lives in scripts/empty_probe.py (round 5:
all green after fixing 5 crashes; re-run green over all 173 in round 6);
this test keeps the PREVIOUSLY-CRASHING queries pinned plus one
representative per heavy family, cheap enough for every suite run.
"""

from __future__ import annotations

import pytest

from udacity_data_engineering_spark.plans.registry import all_queries

# the five round-5 crashers + family representatives
PINNED = [
    "q_ivf_topk",            # IVF training on an empty sample
    "q_pq_topk",             # codebook training on an empty sample
    "q_semantic_dedup",      # IVF training via semdedup
    "q_neardup_drop_accounting",  # IVF training via the audit
    "q_parquet_partitioned",  # schema-less re-read of a file-less write
    "q_minhash_dedup_survivors",
    "q_simhash_candidates",
    "q_neardup_ensemble",     # round 6: composes three legs + cached IVF
    "q_ensemble_survivors",   # round 6: + components over the union graph
    "q_corpus_pipeline",
    "q_temperature_mix",
    "q_epoch_upsample",
    "q_quality_classifier",
    "q_groupby_agg",
    "q_window_rank",
    "q_asof_join",
    # round 9: the lake family's file-less-lake crashers (an empty
    # partitioned write leaves no footer to infer a schema from) +
    # the retention assert + the batch-less streaming upsert
    "q_merge_upsert",
    "q_merge_delete",
    "q_lake_diff",
    "q_retention_expire",
    "q_streaming_lake_upsert",
    "q_incremental_substring",
    "q_streaming_dq_monitor",
    # round 10: composite-index ANN (two cached trainers on zero rows)
    # and batch-assignment against a model trained on an empty lake
    "q_ivfpq_topk",
    "q_kmeans_assign_new",
    # round 11: composed lake lifecycle (file-less lake at every step),
    # edge-lake pagerank (empty edge lake => empty-but-typed read), and
    # the exhaustive-probe IVF (cached trainer on zero rows)
    "q_lake_lifecycle",
    "q_pagerank_persisted",
    "q_ivf_topk_exhaustive",
    # round 14: manifest readers on an empty table (everything prunes —
    # the declared-schema empty frame) and the surrogate-key service fed
    # only empty batches (a never-written dictionary directory)
    "q_file_skipping",
    "q_bloom_file_index",
    "q_surrogate_keys",
    "q_streaming_stateful_ttl",  # empty feed: zero files, zero sessions
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    from empty_probe import build_empty_dir

    return build_empty_dir(
        "/root/testdata/sf0.001", str(tmp_path_factory.mktemp("sf_empty"))
    )


@pytest.mark.parametrize("name", PINNED)
def test_query_survives_empty_input(name, spark, empty_dir):
    rows = all_queries()[name].fn(spark, empty_dir).collect()
    # drop accounting and the DQ monitor legitimately report their
    # all-zero audit/report rows; everything else must be empty-in,
    # empty-out
    if name == "q_neardup_drop_accounting":
        assert all(r.n_capped == 0 and r.dropped_rows == 0 for r in rows)
    elif name == "q_streaming_dq_monitor":
        assert all(r.violations == 0 and r.passed for r in rows)
    else:
        assert rows == [], rows


NULL_PINNED = [
    "q_embedding_neardup_lsh",  # null embedding reaching the GEMM kernel
    "q_ivf_topk",               # null embedding reaching IVF training
    "q_pq_topk",                # null embedding reaching encode/vstack
    "q_semantic_dedup",
    "q_sequence_packing",       # null text poisoning the packing kernel
    "q_textfile_parse",         # concat_ws silently dropping null fields
]


@pytest.fixture(scope="module")
def nulls_dir(tmp_path_factory):
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    from empty_probe import build_nulls_dir

    return build_nulls_dir(
        "/root/testdata/sf0.001", str(tmp_path_factory.mktemp("sf_nulls"))
    )


@pytest.mark.parametrize("name", NULL_PINNED)
def test_query_survives_null_values(name, spark, nulls_dir):
    rows = all_queries()[name].fn(spark, nulls_dir).collect()
    assert rows is not None  # contract: null-respecting result, no throw


def test_line_serializer_preserves_null_positions(spark):
    """The write_lines/read_lines_parsed round trip must keep nulls in
    place: a null MIDDLE field must not shift its neighbors (concat_ws
    alone would)."""
    from udacity_data_engineering_spark.sources.text_source import (
        read_lines_parsed,
        write_lines,
    )

    df = spark.createDataFrame(
        [(1, None, "c"), (2, "b", None)], "a int, b string, c string"
    )
    out = "/tmp/uds_nulltext_test"
    write_lines(df, out)
    back = read_lines_parsed(spark, out, df.schema)
    got = {tuple(r) for r in back.collect()}
    assert got == {(1, None, "c"), (2, "b", None)}


def test_profile_counts_zero_nulls_on_empty_input(spark, empty_dir):
    """q_profile on the empty copy: 0 nulls and 0 distinct per column, as
    its oracle's ``count(*) - count(c)`` gives (a sum of null flags over
    zero rows is NULL)."""
    rows = all_queries()["q_profile"].fn(spark, empty_dir).collect()
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    assert sorted(tuple(r) for r in rows) == sorted((c, 0, 0) for c in cols)


def test_profile_counts_nulls_and_distincts(spark):
    from udacity_data_engineering_spark.operators.quality import profile

    df = spark.createDataFrame(
        [(1, None), (1, "x"), (None, "y"), (2, None)], "a int, b string"
    )
    out = profile(df)
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "string",
        "bigint",
        "bigint",
    ]
    assert sorted(tuple(r) for r in out.collect()) == [("a", 1, 2), ("b", 2, 2)]

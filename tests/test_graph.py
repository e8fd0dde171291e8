"""Graph operators: click-edge extraction, Markov transitions, PageRank.

PageRank exactness is pinned against a pure-Python power iteration on a
handcrafted graph that exercises the two structural edge cases the
events-derived graph may never hit: a DANGLING node (out-degree 0, its
mass must be redistributed uniformly) and an ISOLATED node (no edges at
all — it still earns teleport + dangling share)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from udacity_data_engineering_spark.operators.graph import (
    PAGERANK_ITERS,
    click_edges,
    pagerank,
)


def _py_pagerank(edges, nodes, iters=PAGERANK_ITERS, d=0.85):
    """Reference implementation: edges = {(src, dst): w}."""
    outw = {}
    for (s, _), w in edges.items():
        outw[s] = outw.get(s, 0.0) + w
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dangling = sum(pr for v, pr in r.items() if v not in outw)
        contrib = {v: 0.0 for v in nodes}
        for (s, t), w in edges.items():
            contrib[t] += r[s] * (w / outw[s])
        r = {
            v: 0.15 / n + 0.85 * (contrib[v] + dangling / n)
            for v in nodes
        }
    return r


def _edges_df(spark, edges):
    return spark.createDataFrame(
        [(s, t, int(w)) for (s, t), w in edges.items()],
        "src long, dst long, n_transitions long",
    )


def _nodes_df(spark, nodes):
    return spark.createDataFrame([(v,) for v in nodes], "page long")


def test_pagerank_matches_reference_with_dangling_and_isolated(spark):
    # 1→2 (×2), 1→3, 2→3, 3 dangles, 4 isolated
    edges = {(1, 2): 2.0, (1, 3): 1.0, (2, 3): 1.0}
    nodes = [1, 2, 3, 4]
    want = _py_pagerank(edges, nodes)
    got = {
        r.page: r.pr
        for r in pagerank(_edges_df(spark, edges), _nodes_df(spark, nodes)).collect()
    }
    assert set(got) == set(want)
    for v in nodes:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])


def test_pagerank_conserves_mass_and_ranks_sink_highest(spark):
    edges = {(1, 2): 1.0, (2, 3): 1.0, (1, 3): 1.0, (3, 1): 1.0}
    nodes = [1, 2, 3]
    got = {
        r.page: r.pr
        for r in pagerank(_edges_df(spark, edges), _nodes_df(spark, nodes)).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # node 3 receives from both 1 and 2 — must outrank 2 (single source)
    assert got[3] > got[2]


def test_click_edges_sessionized_per_user(spark):
    t = datetime(2024, 1, 1)
    rows = [
        # user 7 visits pages 10 → 20 → 10; user 8 visits 20 → 30
        (1, t, 7, '{"k": 10}'),
        (2, t, 7, '{"k": 20}'),  # ts tie → event_id breaks it
        (3, t, 7, '{"k": 10}'),
        (4, t, 8, '{"k": 20}'),
        (5, t, 8, '{"k": 30}'),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, props string"
    )
    got = {
        (r.src, r.dst): r.n_transitions for r in click_edges(ev).collect()
    }
    assert got == {(10, 20): 1, (20, 10): 1, (20, 30): 1}


def test_click_edges_never_crosses_users(spark):
    t = datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, t, 1, '{"k": 1}'), (2, t, 2, '{"k": 2}')],
        "event_id long, ts timestamp, user_id long, props string",
    )
    assert click_edges(ev).count() == 0


def test_pagerank_uniform_on_symmetric_cycle(spark):
    # a 4-cycle is vertex-transitive: every node must score exactly 1/4
    edges = {(i, (i + 1) % 4): 1.0 for i in range(4)}
    nodes = list(range(4))
    got = {
        r.page: r.pr
        for r in pagerank(_edges_df(spark, edges), _nodes_df(spark, nodes)).collect()
    }
    for v in nodes:
        assert abs(got[v] - 0.25) < 1e-12


def test_click_edge_lake_incremental_matches_from_scratch(spark, sf_dir, tmp_path):
    """Bootstrap + append over a per-user batch split must reproduce the
    whole-table edge extraction exactly (edges never cross users), and
    the persisted-pagerank query must equal the re-extracting one."""
    from udacity_data_engineering_spark.operators.graph import (
        click_edge_lake,
        click_edges,
        read_click_edges,
    )
    from udacity_data_engineering_spark.session import table as _table

    ev = _table(spark, sf_dir, "events")
    lake = str(tmp_path / "edges")
    click_edge_lake(spark, lake, ev.filter(F.col("user_id") % 3 != 1))
    click_edge_lake(
        spark, lake, ev.filter(F.col("user_id") % 3 == 1), append=True
    )
    got = sorted(tuple(r) for r in read_click_edges(spark, lake).collect())
    want = sorted(tuple(r) for r in click_edges(ev).collect())
    assert got == want

    # a re-bootstrap fully resets the lake (no stale append deltas)
    click_edge_lake(spark, lake, ev)
    again = sorted(tuple(r) for r in read_click_edges(spark, lake).collect())
    assert again == want


def test_pagerank_persisted_matches_reextracting(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    from udacity_data_engineering_spark.plans.registry import all_queries

    m = all_queries()
    a = sorted(tuple(r) for r in m["q_pagerank"].fn(spark, sf_dir).collect())
    b = sorted(
        tuple(r) for r in m["q_pagerank_persisted"].fn(spark, sf_dir).collect()
    )
    assert a == b


def test_edge_lake_compaction_shrinks_files_preserves_view(spark, sf_dir, tmp_path):
    from udacity_data_engineering_spark.operators.graph import (
        click_edge_lake,
        compact_edge_lake,
        read_click_edges,
    )
    from udacity_data_engineering_spark.session import table as _table

    ev = _table(spark, sf_dir, "events")
    lake = str(tmp_path / "edges")
    click_edge_lake(spark, lake, ev.filter(F.col("user_id") % 4 == 0))
    for k in (1, 2, 3):
        click_edge_lake(
            spark, lake, ev.filter(F.col("user_id") % 4 == k), append=True
        )
    before = sorted(tuple(r) for r in read_click_edges(spark, lake).collect())
    stats = compact_edge_lake(spark, lake)
    after = sorted(tuple(r) for r in read_click_edges(spark, lake).collect())
    assert after == before  # the merged VIEW is untouched
    # four append batches -> >= 4 delta files somewhere; compaction
    # leaves exactly <= 1 file per partition and <= true edge count rows
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows_after"] <= stats["rows_before"]
    assert stats["rows_after"] == len(after)


# ---------------------------------------------------------------------------
# Versioned edge lake + time travel (click_edge_lake_versioned /
# read_click_edges_asof)
# ---------------------------------------------------------------------------

from udacity_data_engineering_spark.operators.graph import (
    click_edge_lake_versioned,
    read_click_edges,
    read_click_edges_asof,
)


def _tt_lake(spark, sf_dir, tmp_path):
    from udacity_data_engineering_spark.session import table

    ev = table(spark, sf_dir, "events")
    lake = str(tmp_path / "ttlake")
    batches = [ev.filter(F.pmod(F.col("user_id"), F.lit(4)) == i) for i in range(4)]
    click_edge_lake_versioned(spark, lake, batches)
    return ev, lake, batches


def test_asof_prunes_later_batches(spark, sf_dir, tmp_path):
    # the as-of predicate must reach the scan as a PARTITION filter
    # (inputFiles() reflects the unpruned index, so assert on the plan)
    _, lake, _ = _tt_lake(spark, sf_dir, tmp_path)
    plan = (
        read_click_edges_asof(spark, lake, 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "batch_id" in plan.split("PartitionFilters")[1][:120]


def test_asof_at_head_equals_full_merge(spark, sf_dir, tmp_path):
    _, lake, _ = _tt_lake(spark, sf_dir, tmp_path)
    asof = read_click_edges_asof(spark, lake, 3).orderBy("src", "dst").collect()
    # read_click_edges has no batch_id in its declared schema; read the
    # versioned lake's full merge via as-of at the last batch vs a direct
    # recompute from all events
    from udacity_data_engineering_spark.operators.graph import click_edges
    from udacity_data_engineering_spark.session import table

    full = (
        click_edges(table(spark, sf_dir, "events"))
        .orderBy("src", "dst")
        .collect()
    )
    assert asof == full


def test_versioned_write_is_replay_idempotent(spark, sf_dir, tmp_path):
    ev, lake, batches = _tt_lake(spark, sf_dir, tmp_path)
    before = read_click_edges_asof(spark, lake, 3).orderBy("src", "dst").collect()
    # redeliver batch 2 (crash-before-checkpoint replay): dynamic
    # overwrite must rewrite batch_id=2 in place, not append duplicates
    click_edge_lake_versioned(spark, lake, [batches[0], batches[1], batches[2]])
    after = read_click_edges_asof(spark, lake, 3).orderBy("src", "dst").collect()
    assert after == before


# ---------------------------------------------------------------------------
# Vacuum (vacuum_edge_lake / read_vacuum_horizon) — history folding must
# keep retained as-of reads byte-identical and make expired reads loud
# ---------------------------------------------------------------------------

import os

import pytest

from udacity_data_engineering_spark.operators.graph import (
    read_vacuum_horizon,
    vacuum_edge_lake,
)


def test_vacuum_preserves_retained_asof_reads(spark, sf_dir, tmp_path):
    _, lake, _ = _tt_lake(spark, sf_dir, tmp_path)
    before_2 = read_click_edges_asof(spark, lake, 2).orderBy("src", "dst").collect()
    before_3 = read_click_edges_asof(spark, lake, 3).orderBy("src", "dst").collect()
    assert vacuum_edge_lake(spark, lake, horizon=1) == [0]
    # the horizon read itself and everything past it: byte-identical
    after_2 = read_click_edges_asof(spark, lake, 2).orderBy("src", "dst").collect()
    after_3 = read_click_edges_asof(spark, lake, 3).orderBy("src", "dst").collect()
    assert after_2 == before_2
    assert after_3 == before_3
    # expired directory is really gone; checkpoint partition remains
    assert not os.path.exists(os.path.join(lake, "batch_id=0"))
    assert os.path.exists(os.path.join(lake, "batch_id=1"))


def test_vacuum_read_past_horizon_fails_loudly(spark, sf_dir, tmp_path):
    _, lake, _ = _tt_lake(spark, sf_dir, tmp_path)
    vacuum_edge_lake(spark, lake, horizon=2)
    assert read_vacuum_horizon(spark, lake) == 2
    for expired in (0, 1):
        with pytest.raises(RuntimeError, match="vacuum horizon"):
            read_click_edges_asof(spark, lake, expired)
    # the horizon itself still answers
    assert read_click_edges_asof(spark, lake, 2).count() > 0


def test_vacuum_horizon_at_read_boundary_equals_prevacuum(spark, sf_dir, tmp_path):
    # folding 0..2 into batch_id=2 must equal the pre-vacuum as-of-2 view
    _, lake, _ = _tt_lake(spark, sf_dir, tmp_path)
    before = read_click_edges_asof(spark, lake, 2).orderBy("src", "dst").collect()
    assert vacuum_edge_lake(spark, lake, horizon=2) == [0, 1]
    after = read_click_edges_asof(spark, lake, 2).orderBy("src", "dst").collect()
    assert after == before


def test_vacuum_rejects_regressing_horizon(spark, sf_dir, tmp_path):
    _, lake, _ = _tt_lake(spark, sf_dir, tmp_path)
    vacuum_edge_lake(spark, lake, horizon=2)
    with pytest.raises(RuntimeError, match="precedes"):
        vacuum_edge_lake(spark, lake, horizon=1)
    # re-vacuuming at a LATER horizon on an already-vacuumed lake works:
    # the checkpoint partition participates like any other delta batch
    head = read_click_edges_asof(spark, lake, 3).orderBy("src", "dst").collect()
    assert vacuum_edge_lake(spark, lake, horizon=3) == [2]
    assert read_vacuum_horizon(spark, lake) == 3
    assert (
        read_click_edges_asof(spark, lake, 3).orderBy("src", "dst").collect()
        == head
    )


def test_cdc_changes_and_horizon_guard(spark, sf_dir, tmp_path):
    from udacity_data_engineering_spark.operators.graph import (
        read_click_edge_changes,
    )

    _, lake, _ = _tt_lake(spark, sf_dir, tmp_path)
    # changes (1, 3] + as-of 1 must reconstruct as-of 3
    asof1 = {
        (r.src, r.dst): r.n_transitions
        for r in read_click_edges_asof(spark, lake, 1).collect()
    }
    changes = {
        (r.src, r.dst): r.n_transitions
        for r in read_click_edge_changes(spark, lake, 1, 3).collect()
    }
    merged = dict(asof1)
    for k, v in changes.items():
        merged[k] = merged.get(k, 0) + v
    asof3 = {
        (r.src, r.dst): r.n_transitions
        for r in read_click_edges_asof(spark, lake, 3).collect()
    }
    assert merged == asof3
    # after vacuuming below batch 2, change reads from batch 1 must raise
    vacuum_edge_lake(spark, lake, horizon=2)
    with pytest.raises(RuntimeError, match="vacuum horizon"):
        read_click_edge_changes(spark, lake, 1, 3)
    # from the horizon onward they still work (pure deltas)
    assert read_click_edge_changes(spark, lake, 2, 3).count() > 0


def test_triangle_count_hand_graph(spark):
    from udacity_data_engineering_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} (4 triangles) + a pendant edge + a reverse dup +
    # a self-loop; directed multigraph input
    edges = spark.createDataFrame(
        [(a, b, 1) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a != b]
        + [(5, 1, 1), (1, 5, 3), (2, 2, 9)],
        "src long, dst long, n_transitions long",
    )
    got = {r.a: r.n_triangles for r in triangle_count(edges).collect()}
    # triangles of K4 grouped by smallest vertex: (1,2,3),(1,2,4),(1,3,4) -> 1; (2,3,4) -> 2
    assert got == {1: 3, 2: 1}
    # orientation-invariance: id orientation reports identical counts
    got_id = {
        r.a: r.n_triangles
        for r in triangle_count(edges, orient="id").collect()
    }
    assert got_id == got
    with pytest.raises(ValueError, match="orient"):
        triangle_count(edges, orient="random")


def test_triangle_degree_orientation_caps_hub_wedges(spark):
    """VERDICT r13 task 3: one celebrity node of degree ~sqrt(E) must not
    make the wedge join quadratic in its degree. Probe: a star hub with a
    MID-RANGE id (so id orientation gives it both in- and out-edges)
    plus a triangle ring. Under id orientation the hub generates
    ~ (d/2)^2 wedges; under degree orientation the hub's out-degree
    drops to ~0 and the wedge count collapses to the oriented bound."""
    from udacity_data_engineering_spark.operators.graph import (
        degree_oriented,
        triangle_count,
        undirected_edges,
    )

    d = 200
    hub = d // 2  # mid-range id: ~d/2 neighbors below, ~d/2 above
    star = [(hub, i, 1) for i in range(d + 1) if i != hub]
    # a few genuine triangles away from the hub (ids above the star)
    ring = []
    for k in range(5):
        x = 1000 + 3 * k
        ring += [(x, x + 1, 1), (x + 1, x + 2, 1), (x, x + 2, 1)]
    edges = spark.createDataFrame(
        star + ring, "src long, dst long, n_transitions long"
    )
    e = undirected_edges(edges)

    def wedge_count(oriented):
        vw = oriented.select(
            F.col("u").alias("v"), F.col("v").alias("w")
        )
        return oriented.join(vw, "v").count()

    id_oriented = e.select(F.col("a").alias("u"), F.col("b").alias("v"))
    deg_oriented = degree_oriented(e)
    id_wedges = wedge_count(id_oriented)
    deg_wedges = wedge_count(deg_oriented)
    assert id_wedges >= (d // 2) ** 2  # the quadratic hub term is real
    # degree orientation: hub out-degree ~0, leaf out-degree <= 2, so the
    # wedge count is linear in E (comfortably under 4E), not deg(hub)^2
    n_edges = e.count()
    assert deg_wedges <= 4 * n_edges, (deg_wedges, n_edges)

    # and the counts themselves are identical under both orientations
    got = {r.a: r.n_triangles for r in triangle_count(edges).collect()}
    got_id = {
        r.a: r.n_triangles
        for r in triangle_count(edges, orient="id").collect()
    }
    assert got == got_id == {1000 + 3 * k: 1 for k in range(5)}


def _stage_crashed_vacuum(spark, lake, horizon):
    """Reproduce a vacuum that crashed mid-step-4: in-progress marker
    persisted, horizon-tagged staging complete, batch 0 already deleted,
    later pre-horizon batches not yet."""
    import shutil

    from udacity_data_engineering_spark.operators.graph import (
        _EDGE_SCHEMA,
        VACUUM_INPROGRESS_MARKER,
        _write_int_marker,
    )

    want_next = (
        read_click_edges_asof(spark, lake, horizon + 1)
        .orderBy("src", "dst")
        .collect()
    )
    merged = (
        spark.read.schema(_EDGE_SCHEMA)
        .parquet(lake)
        .filter(F.col("batch_id") <= horizon)
        .groupBy("src", "dst")
        .agg(F.sum("n_transitions").alias("n_transitions"))
        .localCheckpoint(eager=True)
    )
    _write_int_marker(spark, lake, VACUUM_INPROGRESS_MARKER, horizon)
    merged.write.mode("overwrite").parquet(
        os.path.join(lake, f"_vacuum_staging_h{horizon}")
    )
    shutil.rmtree(os.path.join(lake, "batch_id=0"))
    return want_next


def test_vacuum_resumes_from_completed_staging(spark, sf_dir, tmp_path):
    """Crash protocol: if a previous vacuum died AFTER staging committed
    (_SUCCESS present) but BEFORE the expired directories were fully
    removed, the re-run must REUSE the staged merge — recomputing from
    the partially-deleted source partitions would silently drop the
    already-deleted batch's edges."""
    _, lake, _ = _tt_lake(spark, sf_dir, tmp_path)
    want = _stage_crashed_vacuum(spark, lake, horizon=1)

    # re-run: must NOT recompute staging from the damaged source
    assert vacuum_edge_lake(spark, lake, horizon=1) == []  # batch 0 gone already
    got = read_click_edges_asof(spark, lake, 2).orderBy("src", "dst").collect()
    assert got == want


def test_vacuum_crash_resume_rejects_different_horizon(spark, sf_dir, tmp_path):
    """ADVICE r13: a vacuum that crashed while targeting horizon 2 must
    NOT be resumable at horizon 1 — renaming the 0..2 fold to batch_id=1
    would leave batch 2's delta alive alongside a fold that already
    contains it, double-counting batch 2 on every later as-of read."""
    _, lake, _ = _tt_lake(spark, sf_dir, tmp_path)
    want3 = _stage_crashed_vacuum(spark, lake, horizon=2)

    with pytest.raises(RuntimeError, match="resumed at that horizon"):
        vacuum_edge_lake(spark, lake, horizon=1)
    # resuming at the RECORDED horizon completes and stays exact
    assert vacuum_edge_lake(spark, lake, horizon=2) == [1]  # 0 was pre-deleted
    got3 = read_click_edges_asof(spark, lake, 3).orderBy("src", "dst").collect()
    assert got3 == want3


def test_vacuum_midcrash_reads_fail_closed(spark, sf_dir, tmp_path):
    """ADVICE r13: between the partition deletes and the commit rename a
    crashed lake used to ANSWER as-of reads with a partial merge (as-of-1
    returned 0 rows vs thousands true). With the in-progress marker
    persisted before any delete, every read in that window raises; after
    the resume completes, reads are exact again."""
    from udacity_data_engineering_spark.operators.graph import (
        read_click_edge_changes,
    )

    _, lake, _ = _tt_lake(spark, sf_dir, tmp_path)
    want2 = _stage_crashed_vacuum(spark, lake, horizon=1)

    for upto in (1, 2, 3):  # ALL as-of reads span the mid-delete range
        with pytest.raises(RuntimeError, match="in progress"):
            read_click_edges_asof(spark, lake, upto)
    # change reads at/below the in-progress horizon raise too...
    with pytest.raises(RuntimeError, match="in-progress vacuum"):
        read_click_edge_changes(spark, lake, 0, 3)
    # ...but strictly above it they touch only untouched partitions
    assert read_click_edge_changes(spark, lake, 1, 3).count() > 0

    vacuum_edge_lake(spark, lake, horizon=1)
    got2 = read_click_edges_asof(spark, lake, 2).orderBy("src", "dst").collect()
    assert got2 == want2

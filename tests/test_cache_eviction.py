"""Session-cache eviction contract (session.session_cached).

Built-once indexes and lakes (IVF, PQ, ensemble legs, incremental lake
state, click-edge lake) live in one FIFO per cache name, capped at 2
entries. An evicted value is released: frames are unpersisted through
any tuple/list/dict nesting and a ``pathlib.Path`` is rmtree'd. The
ADVICE r11 failure this guards: eviction once assumed every cached value
was a (df, meta) 2-tuple, so the first eviction of ensemble.py's dict
value (a third sf_dir in one session) raised ValueError and crashed
q_neardup_ensemble/q_ensemble_survivors.
"""

from __future__ import annotations

import itertools
from types import SimpleNamespace

import pytest

from udacity_data_engineering_spark import session
from udacity_data_engineering_spark.session import session_cached

FAKE_SPARK = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-1"))


@pytest.fixture(autouse=True)
def isolated_cache(monkeypatch):
    """Each test sees an empty session cache; the real one is restored."""
    monkeypatch.setattr(session, "_SESSION_CACHE", {}, raising=False)


def _put(key, value, name="test"):
    return session_cached(FAKE_SPARK, key, name, lambda: value)


class FakeFrame:
    def __init__(self):
        self.unpersisted = 0

    def unpersist(self):
        self.unpersisted += 1


class AngryFrame(FakeFrame):
    def unpersist(self):
        super().unpersist()
        raise RuntimeError("session already stopped")


def test_release_walks_tuples_lists_dicts():
    a, b, c = FakeFrame(), FakeFrame(), FakeFrame()
    _put("k1", (a, [b, {"x": c, "model": [[1.0, 2.0]]}], "meta", 3))
    _put("k2", None)
    _put("k3", None)  # evicts k1
    assert (a.unpersisted, b.unpersisted, c.unpersisted) == (1, 1, 1)


def test_release_swallows_unpersist_errors():
    a = AngryFrame()
    _put("k1", [a])
    _put("k2", None)
    _put("k3", None)  # must not raise
    assert a.unpersisted == 1


def test_evict_put_evicts_dict_values():
    # the exact ADVICE scenario: third key evicts a DICT-valued entry
    first = {"members": FakeFrame(), "rep_pairs": FakeFrame()}
    _put("k1", first)
    _put("k2", (FakeFrame(), ["centroid"]))
    _put("k3", {"frames": FakeFrame()})  # evicts k1
    assert list(session._SESSION_CACHE["test"]) == [
        ("app-1", "k2"),
        ("app-1", "k3"),
    ]
    assert all(f.unpersisted == 1 for f in first.values())


def test_evict_put_evicts_tuple_values():
    df1, df2 = FakeFrame(), FakeFrame()
    v1 = (df1, [[0.0]])
    assert _put("k1", v1) is v1
    _put("k2", (df2, [[1.0]]))
    assert _put("k1", "ignored: cache hit") is v1
    _put("k3", (FakeFrame(), None))
    assert df1.unpersisted == 1 and df2.unpersisted == 0
    # caches are per name: another name's FIFO is untouched
    other = FakeFrame()
    _put("k1", other, name="other")
    _put("k4", None)
    assert other.unpersisted == 0


def test_failed_build_leaves_no_entry():
    kept = FakeFrame()
    _put("k1", kept)
    _put("k2", None)

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        session_cached(FAKE_SPARK, "k3", "test", boom)
    assert len(session._SESSION_CACHE["test"]) == 2
    assert kept.unpersisted == 0


def test_path_values_are_rmtreed_on_eviction(tmp_path):
    lake = tmp_path / "lake"
    (lake / "part=0").mkdir(parents=True)
    (lake / "part=0" / "f.parquet").write_bytes(b"x")
    assert _put("k1", lake) == lake
    _put("k2", None)
    assert lake.exists()
    _put("k3", None)  # evicts k1
    assert not lake.exists()


def test_ensemble_operating_point_guard():
    from udacity_data_engineering_spark.operators.ensemble import (
        _check_operating_point,
    )
    import pytest

    # no state / no recorded point: caller owns consistency
    _check_operating_point(None, 0.9, 0.9, True)
    _check_operating_point({"rep_pairs": None}, 0.9, 0.9, True)
    # matching point: fine
    _check_operating_point({"operating_point": (0.5, 0.4, False)}, 0.5, 0.4, False)
    # divergent thresholds with frozen state: must refuse
    with pytest.raises(ValueError, match="operating"):
        _check_operating_point(
            {"operating_point": (0.5, 0.4, False)}, 0.7, 0.4, False
        )


def test_ensemble_eviction_keeps_live_ivf_frame(spark, monkeypatch):
    """Evicting an ensemble entry must not unpersist the IVF assignment
    the IVF cache still holds for that sf_dir. The ensemble legs and the
    IVF build are stubbed with tiny frames; only cache ownership is
    under test."""
    from udacity_data_engineering_spark.operators import (
        ann,
        components,
        ensemble,
        similarity,
    )

    def cheap(*_args, **_kwargs):
        return spark.range(2)

    for mod, name in (
        (ensemble, "embedding_neardup_lsh"),
        (ensemble, "semantic_pairs"),
        (similarity, "fingerprint_members"),
        (similarity, "content_reps"),
        (similarity, "rep_verified_pairs"),
        (components, "star_edges"),
    ):
        monkeypatch.setattr(mod, name, cheap)
    monkeypatch.setattr(ensemble, "table", lambda *_a: spark.range(2))
    # one distinct plan per build: Spark shares a cache entry between
    # equal plans, so identical stub frames would alias each other
    sizes = itertools.count(4)
    monkeypatch.setattr(
        ann, "ivf_assign", lambda emb: (spark.range(next(sizes)), [[0.0]])
    )

    a, b, c = (f"stub-ivf-owner-{x}" for x in "abc")
    emb = spark.range(1)
    ann.cached_ivf_index(spark, b, emb)
    ensemble.cached_ensemble_state(spark, a)  # IVF cache: b, a
    ensemble.cached_ensemble_state(spark, b)
    ann.cached_ivf_index(spark, c, emb)  # evicts IVF b; IVF cache: a, c
    ensemble.cached_ensemble_state(spark, c)  # evicts ensemble a

    assigned, _ = ann.cached_ivf_index(spark, a, emb)
    assert assigned.storageLevel.useMemory

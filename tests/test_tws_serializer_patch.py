"""The vectorized TWS serializer patch must be a DROP-IN for stock
pyspark: identical group structure, keys, frame content, dtypes and
chunking — sliced from the Arrow-backed frame instead of rebuilt row by
row (uds_tws_serializer_patch.py, round 16 guide-§4 work).

These tests drive both implementations over raw Arrow IPC streams (no
Spark session needed) so the equivalence claim is pinned at the exact
boundary the patch replaces; the end-to-end claim (TWS queries still
hash-match their DuckDB oracles with the patch live in real workers) is
carried by test_stateful_streaming.py + the sweep.
"""

from __future__ import annotations

import io

import pandas as pd
import pyarrow as pa
import pytest

from pyspark.sql.pandas import serializers as ser_mod

from udacity_data_engineering_spark.streaming import uds_tws_serializer_patch


def _fresh_serializer(max_records=5, max_bytes=2**31 - 1, key_offsets=(0,)):
    cls = ser_mod.TransformWithStateInPandasSerializer
    s = cls.__new__(cls)
    s.arrow_max_records_per_batch = max_records
    s.arrow_max_bytes_per_batch = max_bytes
    s.key_offsets = list(key_offsets)
    s.average_arrow_row_size = 0
    s.total_bytes = 0
    s.total_rows = 0
    s._timezone = "UTC"
    s._converter_cache = {}
    s._df_for_struct = True
    s._struct_in_pandas = "dict"
    s._ndarray_as_list = False
    s._input_types = None
    return s


def _ipc_stream(batches):
    buf = io.BytesIO()
    with pa.ipc.new_stream(buf, batches[0].schema) as w:
        for b in batches:
            w.write_batch(b)
    buf.seek(0)
    return buf


def _drain(load_stream_fn, serializer, batches):
    out = []
    for mode, key, group in load_stream_fn(serializer, _ipc_stream(batches)):
        if group is None:
            out.append((str(mode), key, None))
        else:
            out.append(
                (str(mode), key, [(k, df.copy()) for k, df in group])
            )
    return out


def _stock_and_patched():
    installed = uds_tws_serializer_patch.install()
    assert installed, "patch refused to install against this pyspark"
    patched = ser_mod.TransformWithStateInPandasSerializer.load_stream
    assert getattr(patched, "_uds_vectorized", False)
    return patched._uds_stock, patched


CASES = {
    # key groups spanning record batches, an empty batch in the middle,
    # and a 13-row tail group that must split at the record threshold
    "spanning": [
        pa.record_batch(
            {
                "user_id": [1, 1, 1, 2, 2],
                "value": [1.0, 2.0, 3.0, 4.0, 5.0],
                "ts": pa.array([10, 20, 30, 40, 50], pa.timestamp("us")),
            }
        ),
        pa.record_batch(
            {
                "user_id": [2, 3],
                "value": [6.0, 7.0],
                "ts": pa.array([60, 70], pa.timestamp("us")),
            }
        ),
        pa.record_batch(
            {
                "user_id": pa.array([], pa.int64()),
                "value": pa.array([], pa.float64()),
                "ts": pa.array([], pa.timestamp("us")),
            }
        ),
        pa.record_batch(
            {
                "user_id": [3] + [4] * 12,
                "value": [float(i) for i in range(13)],
                "ts": pa.array(list(range(100, 113)), pa.timestamp("us")),
            }
        ),
    ],
    # string keys including None runs (tuple identity keeps them one group)
    "string_null_keys": [
        pa.record_batch(
            {"k": ["a", "a", "b", None, None, "c"], "v": [1, 2, 3, 4, 5, 6]}
        )
    ],
    # NaN keys: never equal, every row its own group — both paths agree
    "nan_keys": [
        pa.record_batch(
            {"k": pa.array([1.0, 1.0, float("nan"), float("nan"), 2.0]),
             "v": [1, 2, 3, 4, 5]}
        )
    ],
}


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize(
    "max_records,max_bytes",
    [(5, 2**31 - 1), (3, 2**31 - 1), (10000, 100), (2, 60)],
)
def test_vectorized_load_stream_matches_stock(case, max_records, max_bytes):
    stock, patched = _stock_and_patched()
    batches = CASES[case]
    a = _drain(stock, _fresh_serializer(max_records, max_bytes), batches)
    b = _drain(patched, _fresh_serializer(max_records, max_bytes), batches)
    assert len(a) == len(b)
    for (mode_a, key_a, group_a), (mode_b, key_b, group_b) in zip(a, b):
        assert mode_a == mode_b
        if group_a is None:
            assert group_b is None
            continue
        assert str(key_a) == str(key_b)
        concat_a = pd.concat([df for _, df in group_a], ignore_index=True)
        concat_b = pd.concat([df for _, df in group_b], ignore_index=True)
        pd.testing.assert_frame_equal(concat_a, concat_b, check_dtype=True)


def test_record_threshold_chunking_matches_stock():
    """Chunk boundaries (not just concatenated content) replicate the
    stock record-count threshold within one record batch."""
    stock, patched = _stock_and_patched()
    batches = [
        pa.record_batch(
            {"k": [7] * 11 + [8] * 2, "v": list(range(13))}
        )
    ]
    a = _drain(stock, _fresh_serializer(max_records=4), batches)
    b = _drain(patched, _fresh_serializer(max_records=4), batches)
    sizes_a = [[len(df) for _, df in g] for _, _, g in a if g is not None]
    sizes_b = [[len(df) for _, df in g] for _, _, g in b if g is not None]
    assert sizes_a == sizes_b == [[4, 4, 3], [2]]


def test_kill_switch_routes_to_stock(monkeypatch):
    """SPARK_GRAFT_TWS_VECTORIZED=0 must route through the unmodified
    pyspark implementation (the A/B lever and production escape hatch)."""
    stock, patched = _stock_and_patched()
    monkeypatch.setenv("SPARK_GRAFT_TWS_VECTORIZED", "0")
    batches = CASES["spanning"]
    a = _drain(stock, _fresh_serializer(), batches)
    b = _drain(patched, _fresh_serializer(), batches)
    assert len(a) == len(b)
    for (_, _, group_a), (_, _, group_b) in zip(a, b):
        if group_a is None:
            continue
        sizes_a = [len(df) for _, df in group_a]
        sizes_b = [len(df) for _, df in group_b]
        assert sizes_a == sizes_b


def test_install_succeeds_on_pinned_pyspark():
    """pyspark 4.1.2's stock serializer is the vetted one, so the patch
    must install here, not fall back to stock silently."""
    assert uds_tws_serializer_patch.install() is True
    cls = ser_mod.TransformWithStateInPandasSerializer
    assert cls.load_stream._uds_vectorized
    assert cls.dump_stream._uds_vectorized


def test_install_is_idempotent():
    assert uds_tws_serializer_patch.install()
    first = ser_mod.TransformWithStateInPandasSerializer.load_stream
    assert uds_tws_serializer_patch.install()
    assert ser_mod.TransformWithStateInPandasSerializer.load_stream is first


def _emissions():
    """Kernel-shaped output: many 1-2 row frames (one per key), the
    worker's packing shape iter[list[(iter[pdf], arrow_type)]]."""
    arrow_type = pa.struct(
        [pa.field("user_id", pa.int64()), pa.field("n", pa.int64())]
    )
    frames = [
        pd.DataFrame({"user_id": [i], "n": [i * 10]}) for i in range(40)
    ] + [pd.DataFrame({"user_id": [99, 100], "n": [1, 2]})]
    # one packed item per frame, like one kernel invocation per key
    return [[(iter([f]), arrow_type)] for f in frames], arrow_type


def _dump_rows(dump_stream_fn, serializer, packed_items):
    """Run a dump_stream and return (total rows written, batch count)."""
    out = io.BytesIO()
    dump_stream_fn(serializer, iter(packed_items), out)
    out.seek(0)
    # skip the START_ARROW_STREAM marker int
    out.read(4)
    reader = pa.ipc.open_stream(out)
    batches = [b for b in reader]
    table = pa.Table.from_batches(batches) if batches else None
    return table, len(batches)


def _dump_serializer():
    s = _fresh_serializer(max_records=16)
    s._safecheck = True
    s._assign_cols_by_name = True
    s._int_to_decimal_coercion_enabled = False
    s._arrow_cast = True
    return s


def test_dump_coalescing_preserves_rows_and_order():
    stock, _ = _stock_and_patched()
    dump_patched = ser_mod.TransformWithStateInPandasSerializer.dump_stream
    assert getattr(dump_patched, "_uds_vectorized", False)
    dump_stock = dump_patched._uds_stock

    items, _ = _emissions()
    table_a, n_a = _dump_rows(dump_stock, _dump_serializer(), items)
    items, _ = _emissions()
    table_b, n_b = _dump_rows(dump_patched, _dump_serializer(), items)

    assert table_a.to_pydict() == table_b.to_pydict()
    # 41 one-per-emission batches collapse to ceil(42 rows / 16) = 3
    assert n_a == 41
    assert n_b == 3


def test_dump_kill_switch_routes_to_stock(monkeypatch):
    _stock_and_patched()
    dump_patched = ser_mod.TransformWithStateInPandasSerializer.dump_stream
    monkeypatch.setenv("SPARK_GRAFT_TWS_COALESCE", "0")
    items, _ = _emissions()
    table, n = _dump_rows(dump_patched, _dump_serializer(), items)
    assert n == 41  # stock one-batch-per-emission shape
    assert table.num_rows == 42


def test_dump_never_merges_frames_with_different_columns():
    """A kernel frame whose columns differ from the frames buffered
    before it is converted on its own: a misnamed column must fail the
    way stock's per-frame conversion fails, not come out as NaN-filled
    rows of one concatenated frame."""
    _stock_and_patched()
    dump_patched = ser_mod.TransformWithStateInPandasSerializer.dump_stream
    dump_stock = dump_patched._uds_stock
    arrow_type = pa.struct(
        [pa.field("user_id", pa.int64()), pa.field("score", pa.float64())]
    )

    def items():
        frames = [
            pd.DataFrame({"user_id": [1], "score": [0.5]}),
            pd.DataFrame({"user_id": [2], "scroe": [1.5]}),  # kernel bug
        ]
        return [[(iter([f]), arrow_type)] for f in frames]

    with pytest.raises(Exception) as stock_err:
        _dump_rows(dump_stock, _dump_serializer(), items())
    with pytest.raises(type(stock_err.value)):
        _dump_rows(dump_patched, _dump_serializer(), items())

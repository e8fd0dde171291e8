"""Vectorized drop-in for pyspark's TransformWithStateInPandasSerializer
``load_stream`` — the per-row Python-boundary cost the round-15/16 TWS
work could not reach from kernel code (guide §4).

Stock pyspark 4.1 deserializes every transformWithStateInPandas input
batch by materializing EVERY ROW as a Python namedtuple
(``pd.concat(...).itertuples()``) and then rebuilding each key group's
pandas frame from those row objects (``pd.DataFrame(rows)``) — O(rows)
interpreter work per micro-batch that dominated the TWS queries after
round 16 folded the state-server RPCs (OPTIMIZATION_r16.md "Not yet
optimized" #1). The replacement below finds contiguous key runs with
one vectorized comparison per key column and SLICES the already-built
pandas frame per group — O(groups) instead of O(rows) Python work, with
byte-identical frames reaching the kernel:

- row order, column names/dtypes and values are the concat frame's,
  exactly what the stock path reconstructs through namedtuples (slicing
  skips the stock path's dtype re-inference, so frames can only be MORE
  faithful to the Arrow data — our feeds' long/double/string/timestamp
  columns round-trip identically either way);
- chunk splitting replicates the stock thresholds (max-records, and
  max-bytes via the same running average-row-size bookkeeping);
- group keys are compared with the same semantics tuple equality gave
  (NaN never equals, None equals); any comparison the vectorized path
  cannot do degrades to per-row runs, which the downstream
  ``groupby``-by-key merge makes semantically identical (an over-split
  only changes chunk boundaries, and every kernel is chunk-invariant —
  stock itself splits groups at arbitrary record/byte thresholds).

This module is deliberately SELF-CONTAINED (no package imports): it is
shipped to executors with ``sc.addPyFile`` (stateful.ensure_tws_runtime)
and imported under its bare name during UDF unpickling — worker.py adds
python-includes to sys.path before read_udfs, so the kernels'
``__setstate__`` bootstrap (stateful._vectorized_boot_base) can install
the patch before the serializer's ``load_stream`` generator is created.
``install`` refuses to touch a pyspark whose stock implementation no
longer matches what was vetted (e.g. an upstream Spark that has already
vectorized this path), so the engine silently falls back to stock
behavior rather than patching blind.
"""

from __future__ import annotations

_INSTALLED = False


def _make_load_stream(arrow_load_stream, stock_load_stream):
    """Bind the raw Arrow-batch reader (ArrowStreamSerializer.load_stream,
    the same super().load_stream the stock implementation calls) into the
    vectorized implementation. ``stock_load_stream`` is kept as a
    per-call fallback: setting SPARK_GRAFT_TWS_VECTORIZED=0 in the
    worker environment (sc.environment on the driver — worker pools are
    keyed by env vars, so toggling it mid-session spawns a stock-path
    pool) routes every subsequent task through the unmodified pyspark
    code, which is both the A/B lever and the production kill-switch."""
    import math
    import os
    from itertools import groupby

    def load_stream(self, stream):
        if os.environ.get("SPARK_GRAFT_TWS_VECTORIZED", "1") == "0":
            yield from stock_load_stream(self, stream)
            return
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        from pyspark.sql.streaming.stateful_processor_util import (
            TransformWithStateInPandasFuncMode,
        )

        unlimited_bytes = 2**31 - 1

        def generate_data_batches(batches):
            for batch in batches:
                n = batch.num_rows
                if self.arrow_max_bytes_per_batch != unlimited_bytes and n > 0:
                    batch_bytes = sum(
                        buf.size
                        for col in batch.columns
                        for buf in col.buffers()
                        if buf is not None
                    )
                    self.total_bytes += batch_bytes
                    self.total_rows += n
                    self.average_arrow_row_size = (
                        self.total_bytes / self.total_rows
                    )
                if n == 0:
                    continue
                data_pandas = [
                    self.arrow_to_pandas(c, i)
                    for i, c in enumerate(
                        pa.Table.from_batches([batch]).itercolumns()
                    )
                ]
                pdf = pd.concat(data_pandas, axis=1)

                if n > 1:
                    change = np.zeros(n - 1, dtype=bool)
                    for o in self.key_offsets:
                        v = pdf.iloc[:, o].to_numpy()
                        try:
                            neq = np.asarray(v[1:] != v[:-1], dtype=bool)
                            if neq.shape != (n - 1,):
                                raise ValueError(
                                    "non-elementwise key comparison"
                                )
                        except Exception:
                            neq = np.ones(n - 1, dtype=bool)
                        change |= neq
                    bounds = (np.flatnonzero(change) + 1).tolist()
                else:
                    bounds = []
                starts = [0, *bounds]
                ends = [*bounds, n]

                limit = self.arrow_max_records_per_batch
                if (
                    self.arrow_max_bytes_per_batch != unlimited_bytes
                    and self.average_arrow_row_size > 0
                ):
                    limit = min(
                        limit,
                        max(
                            1,
                            math.ceil(
                                self.arrow_max_bytes_per_batch
                                / self.average_arrow_row_size
                            ),
                        ),
                    )

                for a, b in zip(starts, ends):
                    batch_key = tuple(
                        pdf.iat[a, o] for o in self.key_offsets
                    )
                    for s0 in range(a, b, limit):
                        e0 = min(s0 + limit, b)
                        chunk = pdf.iloc[s0:e0]
                        if s0 > 0 or e0 < n:
                            chunk = chunk.reset_index(drop=True)
                        yield (batch_key, chunk)

        data_batches = generate_data_batches(arrow_load_stream(self, stream))

        for k, g in groupby(data_batches, key=lambda x: x[0]):
            yield (TransformWithStateInPandasFuncMode.PROCESS_DATA, k, g)

        yield (TransformWithStateInPandasFuncMode.PROCESS_TIMER, None, None)

        yield (TransformWithStateInPandasFuncMode.COMPLETE, None, None)

    return load_stream


def _make_dump_stream(stock_dump_stream, parent_dump_stream):
    """Coalesce consecutive kernel emissions into full Arrow batches.

    Stock pyspark writes ONE Arrow RecordBatch per pandas frame the
    kernel yields; our per-key kernels emit 1-to-few-row frames, so a
    micro-batch over K keys pays K ``_create_batch`` conversions and K
    JVM-side batch reads. The arrow return type is one constant per
    query (worker.py wrap_grouped_transform_with_state_pandas_udf), and
    the JVM consumes output batches as a plain row stream — batch
    boundaries carry no grouping meaning (the sibling
    applyInPandasWithState serializer already bin-packs multiple groups
    per output batch in stock pyspark) — so buffering consecutive
    frames up to ``arrow_max_records_per_batch`` rows and converting
    once preserves every row in order while collapsing the per-emission
    boundary cost. Only frames with identical column lists are merged.
    SPARK_GRAFT_TWS_COALESCE=0 restores the stock
    one-batch-per-emission path (A/B lever / kill-switch)."""
    import os

    def dump_stream(self, iterator, stream):
        if os.environ.get("SPARK_GRAFT_TWS_COALESCE", "1") == "0":
            return stock_dump_stream(self, iterator, stream)
        import pandas as pd

        def flatten_coalesce():
            limit = max(1, self.arrow_max_records_per_batch)
            buf: list = []
            buf_rows = 0
            cur_type = None
            cur_cols = None
            for packed in iterator:
                iter_pdf_with_type = packed[0]
                iter_pdf = iter_pdf_with_type[0]
                pdf_type = iter_pdf_with_type[1]
                for pdf in iter_pdf:
                    cols = list(pdf.columns)
                    # a frame whose columns differ from the buffered ones
                    # is never concatenated with them: concat would
                    # NaN-fill the gaps and hide a kernel schema bug that
                    # stock's per-frame conversion reports as an error
                    if buf and (
                        pdf_type is not cur_type
                        or cols != cur_cols
                        or buf_rows + len(pdf) > limit
                    ):
                        yield (
                            pd.concat(buf, ignore_index=True)
                            if len(buf) > 1
                            else buf[0],
                            cur_type,
                        )
                        buf = []
                        buf_rows = 0
                    buf.append(pdf)
                    buf_rows += len(pdf)
                    cur_type = pdf_type
                    cur_cols = cols
            if buf:
                yield (
                    pd.concat(buf, ignore_index=True)
                    if len(buf) > 1
                    else buf[0],
                    cur_type,
                )

        return parent_dump_stream(self, flatten_coalesce(), stream)

    return dump_stream


def install() -> bool:
    """Patch TransformWithStateInPandasSerializer.load_stream with the
    vectorized implementation. Idempotent; returns False (leaving stock
    behavior untouched) when the installed pyspark does not match the
    vetted implementation. The InitState subclass keeps its own already-
    vectorized override either way."""
    global _INSTALLED
    if _INSTALLED:
        return True
    try:
        import inspect

        from pyspark.sql.pandas import serializers as ser_mod

        cls = ser_mod.TransformWithStateInPandasSerializer
        stock = cls.load_stream
        if getattr(stock, "_uds_vectorized", False):
            _INSTALLED = True
            return True
        src = inspect.getsource(stock)
        # only replace the per-row implementation we vetted; an upstream
        # pyspark that no longer row-loops keeps its own code
        if "itertuples" not in src or "pd.DataFrame(rows)" not in src:
            return False
        for attr in (
            "arrow_max_records_per_batch",
            "arrow_max_bytes_per_batch",
        ):
            if attr not in src and attr not in inspect.getsource(cls.__init__):
                return False
        arrow_load_stream = ser_mod.ArrowStreamSerializer.load_stream
        patched = _make_load_stream(arrow_load_stream, stock)
        patched._uds_vectorized = True
        patched._uds_stock = stock
        cls.load_stream = patched

        stock_dump = cls.dump_stream
        if not getattr(stock_dump, "_uds_vectorized", False):
            dump_src = inspect.getsource(stock_dump)
            # the stock dump flattens (iter_pdf, pdf_type) packs and
            # hands each frame to the parent; only coalesce that shape
            if "flatten_iterator" in dump_src:
                parent_dump = ser_mod.ArrowStreamPandasUDFSerializer.dump_stream
                patched_dump = _make_dump_stream(stock_dump, parent_dump)
                patched_dump._uds_vectorized = True
                patched_dump._uds_stock = stock_dump
                cls.dump_stream = patched_dump

        _INSTALLED = True
        return True
    except Exception:
        return False

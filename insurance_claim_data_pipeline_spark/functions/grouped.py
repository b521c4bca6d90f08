"""Whole-partition grouped map — the high-cardinality scale path for
``groupBy(key).applyInPandas``.

Spark's grouped-map pays a fixed Arrow/plan cost PER GROUP (one pandas
frame materialisation, one Python call dispatch, one Arrow batch each
way). With a handful of groups that cost is invisible; with 20k+ tiny
groups (per-part demand series, per-user event traces) it dominates the
operator: measured on this repo, `lineitem_croston_demand` spent ~90%
of its 8.3 s wall-clock at sf0.1 on per-group overhead, not on the
recurrence itself.

:func:`sorted_grouped_map` keeps the exact same semantics — the SAME
per-group closure runs over the SAME rows — but amortises the overhead:

1. ``repartition(*keys)`` co-locates each group on one partition
   (identical shuffle to what ``groupBy(...).applyInPandas`` plans);
2. ``sortWithinPartitions(*keys)`` makes every group a CONTIGUOUS run;
3. ``mapInPandas`` streams whole Arrow batches (default 10k rows)
   through one Python call, slicing groups out with a vectorised pandas
   ``groupby`` — thousands of groups per dispatch instead of one.

Because a group may straddle two Arrow batches of the same partition,
the stream holds back the trailing (possibly incomplete) group of each
batch and prepends it to the next; memory held between batches is one
group, not one partition.

Output rows are identical to the ``applyInPandas`` formulation (row
order within the DataFrame differs, which Spark never guarantees
anyway), so every DuckDB value-hash oracle is unaffected.

:func:`keyed_fold` is the pandas side of the sequential recurrences
(EMA, Kalman, CUSUM, Holt, Croston): one fold runs a recurrence per key
for the batch operator and for its ``applyInPandasWithState`` twin.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame


def sorted_grouped_map(
    df: DataFrame,
    keys: Sequence[str],
    group_fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    whole_batch: bool = False,
) -> DataFrame:
    """Run ``group_fn`` once per distinct ``keys`` group of ``df``,
    exactly like ``df.groupBy(*keys).applyInPandas(group_fn, schema)``,
    but batched whole-partition for high-cardinality keys.

    ``group_fn`` receives each group as a pandas frame (input columns,
    arbitrary row order — same contract as ``applyInPandas``; all the
    callers in this repo sort internally) and returns a frame matching
    ``schema``.

    With ``whole_batch=True`` the closure instead receives one frame
    holding MANY complete groups (sorted by ``keys``, group rows
    contiguous but otherwise unordered) and must handle the key
    transitions itself — this skips even the per-group pandas slicing,
    the right shape for cheap linear recurrences over tens of
    thousands of tiny groups.
    """
    key_list = list(keys)

    def part_fn(batches):
        # Closure shipped by value via cloudpickle — workers never
        # import this package (same contract as the per-group fns).
        import pandas as pd  # noqa: F811 — re-import for the worker

        def flush(pdf: pd.DataFrame):
            if whole_batch:
                out = group_fn(pdf.reset_index(drop=True))
                if len(out):
                    yield out
                return
            outs = [
                group_fn(g.reset_index(drop=True))
                for _, g in pdf.groupby(key_list, sort=False, dropna=False)
            ]
            outs = [o for o in outs if len(o)]
            if outs:
                yield pd.concat(outs, ignore_index=True)

        carry = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            # Rows are sorted by key, so the last group is a contiguous
            # tail; count its rows with a NaN-safe equality mask.
            last = pdf[key_list].iloc[-1]
            mask = None
            for c in key_list:
                col = pdf[c]
                m = col.isna() if pd.isna(last[c]) else (col == last[c])
                mask = m if mask is None else (mask & m)
            tail_n = int(mask.sum())
            if tail_n == len(pdf):
                carry = pdf  # batch is one (possibly continuing) group
                continue
            carry = pdf.iloc[len(pdf) - tail_n :].reset_index(drop=True)
            yield from flush(pdf.iloc[: len(pdf) - tail_n])
        if carry is not None and len(carry):
            yield from flush(carry)

    part = df.repartition(*key_list).sortWithinPartitions(*key_list)
    return part.mapInPandas(part_fn, schema=schema)


def keyed_fold(
    key: str,
    order: Sequence[str],
    inputs: Sequence[str],
    passthrough: Sequence[str],
    outputs: Sequence[str],
    step: Callable[..., tuple],
) -> Callable[..., tuple[pd.DataFrame, Any]]:
    """Build ``fold(pdf, state=None) -> (out, end_state)``, which runs
    the recurrence ``step`` over each ``key`` of ``pdf``.

    ``fold`` groups ``pdf`` by ``key``, orders each key's rows by
    ``order`` and calls ``step(state, *columns)`` once per key, with
    that key's ``inputs`` columns as lists in fold order. ``step`` loops over the rows itself
    and returns ``(end_state, *lists)``, one list per ``outputs``
    column. Every key starts from ``state``: ``None`` for a new key (the
    batch operators), the stored ``GroupState`` value when a streaming
    handler folds one key's micro-batch. ``out`` holds the
    ``passthrough`` columns and then ``outputs``; ``end_state`` is the
    last key's. Batch and streaming thus share one definition of each
    recurrence, so a drained stream emits exactly the batch answer.

    ``step`` must be a closure, like every function handed to a worker:
    cloudpickle then ships it by value, and Python workers need not
    import this package (the driver contract runs from an arbitrary cwd).
    """
    ins, keep, outs = list(inputs), list(passthrough), list(outputs)

    def fold(pdf: pd.DataFrame, state: Any = None) -> tuple[pd.DataFrame, Any]:
        # NaN-safe key codes: every null key gets code -1, so nulls are
        # ONE group (SQL PARTITION BY semantics) although NaN != NaN.
        codes = pd.factorize(pdf[key].to_numpy())[0]
        # numpy, not DataFrame.sort_values: a streaming handler folds one
        # small key per call, where pandas' per-call overhead dominated
        idx = np.lexsort([*(pdf[c].to_numpy() for c in reversed(order)), codes])
        codes = codes[idx]
        new = np.empty(len(codes), dtype=bool)
        new[:1] = True
        np.not_equal(codes[1:], codes[:-1], out=new[1:])
        starts = np.flatnonzero(new).tolist()
        cols = {c: pdf[c].to_numpy()[idx] for c in {*ins, *keep}}
        lists = [cols[c].tolist() for c in ins]
        acc: list[list] = [[] for _ in outs]
        end = state
        for lo, hi in zip(starts, starts[1:] + [len(idx)]):
            end, *res = step(state, *[c[lo:hi] for c in lists])
            for a, r in zip(acc, res):
                a.extend(r)
        out = pd.DataFrame({**{c: cols[c] for c in keep}, **dict(zip(outs, acc))})
        return out, end

    return fold

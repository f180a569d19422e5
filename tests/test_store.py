"""Crash-point pins for the staged-delta store protocol (streaming/store.py).

A compaction is a sequence of filesystem steps. A failure injected at each
of them — and right after the floor-marker write — must leave a store
whose fold equals the pre-compaction fold (the batch twin of everything
staged so far), and which keeps converging to its batch twin through
further staged batches and compactions. Ingests are called directly on
tiny frames (no readStream), so the module stays in the fast tier.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from big_data_computing_final_project_spark.streaming import store

# (patched function, suffix of its first path argument — "{p}" is the
# compacted part's directory name — and which matching call fails)
_STEPS = {
    "rmtree_stale_build": ("rmtree", "{p}.compacting", 1),
    "write_merged_delta": ("write_delta", "{p}.compacting", 1),
    "copy_floor_marker": ("copyfile", store._FLOOR_MARKER, 1),
    "rmtree_stale_backup": ("rmtree", "{p}.old", 1),
    "rename_live_to_backup": ("rename", "{p}", 1),
    "rename_build_to_live": ("rename", "{p}.compacting", 1),
    "rmtree_backup": ("rmtree", "{p}.old", 2),
    "write_floor": ("_write_compaction_floor", None, 1),
    "after_floor": ("_write_compaction_floor", None, None),
}


class _Crash(Exception):
    pass


def _compact_crashing_at(monkeypatch, step: str, part: str, run) -> None:
    """Run ``run()`` (one compaction) with a failure injected at ``step``
    of the compaction of sub-directory ``part``; assert it fired."""
    name, suffix, nth = _STEPS[step]
    owner = {"rmtree": shutil, "copyfile": shutil, "rename": os}.get(name, store)
    real = getattr(owner, name)
    suffix = suffix and suffix.format(p=part)
    calls = [0]

    def failing(*args, **kwargs):
        path = next(a for a in args if isinstance(a, str))
        if suffix is None or path.endswith(suffix):
            calls[0] += 1
            if calls[0] == nth:
                raise _Crash(step)
        out = real(*args, **kwargs)
        if nth is None:
            raise _Crash(step)
        return out

    with monkeypatch.context() as m:
        m.setattr(owner, name, failing)
        with pytest.raises(_Crash):
            run()


# --- flat store: PSI bin counts --------------------------------------------


def _bins(i):
    return [(i * 7 + j * 3) % 5 for j in range(3 + i % 3)]


def _counts_ingest(spark, d, i):
    from big_data_computing_final_project_spark.streaming.events import (
        _stage_bin_counts,
    )

    df = spark.createDataFrame([(b,) for b in _bins(i)], "bin int")
    _stage_bin_counts(df, store.stage_id(d, i), d, [])


def _counts_fold(spark, d):
    return {
        r.bin: r.n
        for r in store.read_deltas(spark, d, "bin int, n bigint")
        .groupBy("bin")
        .agg(F.sum("n").alias("n"))
        .collect()
    }


def _counts_twin(n_batches):
    return dict(Counter(b for i in range(n_batches) for b in _bins(i)))


def test_flat_store_compaction_crash_points(spark, tmp_path, monkeypatch):
    """One compaction crashes at each step in turn; between crashes the
    stream resumes with one more batch (stage_id + write_delta). A clean
    compaction first leaves a floor marker, so every later swap has a
    marker to carry."""
    from big_data_computing_final_project_spark.streaming.events import (
        compact_counts_store,
    )

    d = str(tmp_path / "counts")
    _counts_ingest(spark, d, 0)
    compact_counts_store(spark, d)
    _counts_ingest(spark, d, 1)
    for i, step in enumerate(_STEPS, start=2):
        _compact_crashing_at(
            monkeypatch, step, "counts", lambda: compact_counts_store(spark, d)
        )
        assert _counts_fold(spark, d) == _counts_twin(i), step
        _counts_ingest(spark, d, i)
    compact_counts_store(spark, d)
    assert _counts_fold(spark, d) == _counts_twin(len(_STEPS) + 2)


# --- two-level store: dup-flow keepers + edges -----------------------------


def _docs(i):
    """Batch i's (doc_id, source, fp) rows: ids ascend across batches (the
    dup-flow ingest contract) and fps repeat within and across batches."""
    return [
        (doc, "abc"[doc % 3], f"f{doc * 5 % 7}") for doc in range(3 * i + 1, 3 * i + 4)
    ]


def _flow_ingest(spark, d, i):
    from big_data_computing_final_project_spark.streaming.events import (
        _dup_flow_ingest,
    )

    df = spark.createDataFrame(_docs(i), "doc_id long, source string, fp string")
    _dup_flow_ingest(df, i, d)


def _flow_fold(spark, d):
    from big_data_computing_final_project_spark.streaming.events import (
        dup_flow_matrix_from_store,
    )

    return [tuple(r) for r in dup_flow_matrix_from_store(spark, d).collect()]


def _flow_twin(n_batches):
    """Batch q146 over the id-ordered docs: each fp group's min-doc_id
    keeper sends one edge per later copy."""
    keeper, cells = {}, defaultdict(lambda: [0, set()])
    for _, src, fp in (x for i in range(n_batches) for x in _docs(i)):
        if fp in keeper:
            cell = cells[(keeper[fp], src)]
            cell[0] += 1
            cell[1].add(fp)
        else:
            keeper[fp] = src
    return sorted((k, s, n, len(g)) for (k, s), (n, g) in cells.items())


def test_two_level_store_compaction_crash_points(spark, tmp_path, monkeypatch):
    """As the flat case, on the dup-flow store. Crashes target the SECOND
    part (edges), so the first (keepers) is already swapped — the mixed
    state a two-level compaction can leave. The floor marker lives in the
    never-swapped parent, so there is no marker copy step."""
    from big_data_computing_final_project_spark.streaming.events import (
        compact_dup_flow_store,
    )

    d = str(tmp_path / "flow")
    _flow_ingest(spark, d, 0)
    _flow_ingest(spark, d, 1)
    steps = [s for s in _STEPS if s != "copy_floor_marker"]
    for i, step in enumerate(steps, start=2):
        _compact_crashing_at(
            monkeypatch, step, "edges", lambda: compact_dup_flow_store(spark, d)
        )
        assert _flow_fold(spark, d) == _flow_twin(i), step
        _flow_ingest(spark, d, i)
    compact_dup_flow_store(spark, d)
    assert _flow_fold(spark, d) == _flow_twin(len(steps) + 2)

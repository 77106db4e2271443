"""Crash consistency of the index commit point.

Every index writer is crashed at each of its filesystem steps, for every
step the writer reaches:

* in the driver, the n-th call of ``os.replace``, ``json.dump``,
  ``shutil.rmtree`` or ``DataFrameWriter.parquet`` raises instead of
  running;
* in the Spark tasks, which run in other processes, the write of the
  n-th segment dir a clean run creates fails because a file already sits
  where that dir must go.

The failure is injected at the I/O level, so the cases do not depend on
how a writer orders its steps. After each crash the index is reopened
and must

* parse;
* equal the snapshot before the operation or the one after it in
  ``doc_count``, segment list and tombstone set;
* pass ``check_index``;
* rank top-10 ids and float32 score bits exactly as ``OracleIndex`` does
  over that snapshot's documents.

Static guards at the end keep every manifest write inside
``operators.segments.commit`` and every segment file write inside
``operators.segments``.
"""

from __future__ import annotations

import ast
import json
import os
import shutil
import struct
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql.readwriter import DataFrameWriter

import lucene_solr_spark
from lucene_solr_spark.operators.add_indexes import add_indexes
from lucene_solr_spark.operators.check_index import check_index
from lucene_solr_spark.operators.deletes import delete_by_ids, read_tombstones
from lucene_solr_spark.operators.index_build import build_index
from lucene_solr_spark.operators.merge_policy import (
    TieredMergePolicy,
    find_merges,
    run_merges,
)
from lucene_solr_spark.operators.segments import SegmentIndex, build_segments
from lucene_solr_spark.operators.topk import SegmentSearcher
from lucene_solr_spark.plans import ir
from lucene_solr_spark.sources.corpus import corpus_to_spark, make_corpus_rows
from lucene_solr_spark.streaming.nrt import append_batch

SEG = 8
N_BASE, N_PARTIAL, N_APPEND, N_SRC = 40, 24, 8, 16
# one merge of three segments over five equal-sized ones
POLICY = TieredMergePolicy(
    segs_per_tier=3, max_merge_at_once=3, floor_segment_bytes=2 * 1024**2
)
QUERIES = {
    "def": ir.TermQuery("def"),
    "error": ir.TermQuery("error"),
    "either": ir.BooleanQuery(
        (
            ir.BooleanClause(ir.Occur.SHOULD, ir.TermQuery("error")),
            ir.BooleanClause(ir.Occur.SHOULD, ir.TermQuery("warning")),
        ),
        0,
    ),
}
CALLS = ["replace", "dump", "rmtree", "parquet", "segment_dir"]


class InjectedCrash(Exception):
    pass


def bits(x) -> int:
    return struct.unpack("<I", struct.pack("<f", float(x)))[0]


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    """Tiny source indexes, built once; each case works on a copy."""
    rows = make_corpus_rows(N_BASE + N_APPEND, seed=5)
    src_rows = make_corpus_rows(N_SRC, seed=6)
    schema = corpus_to_spark(spark, 1, seed=5).schema

    def ix(rs):
        return build_index(spark.createDataFrame(rs, schema)).persist()

    root = tmp_path_factory.mktemp("commit_point")
    full = ix(rows[:N_BASE])
    partial, base, src = (str(root / n) for n in ("partial", "base", "src"))
    build_segments(ix(rows[:N_PARTIAL]), partial, segment_size=SEG)
    build_segments(full, base, segment_size=SEG)
    build_segments(ix(src_rows), src, segment_size=SEG)

    segs = SegmentIndex.open(base).manifest()["segments"]
    merges = find_merges(segs, POLICY)
    assert len(merges) == 1, merges
    merged = [s for s in segs if s["segment_id"] in merges[0]]
    kept = [s for s in segs if s["segment_id"] not in merges[0]]
    # one tombstone the merge purges, one it must keep
    delete_by_ids(spark, SegmentIndex.open(base), [merged[0]["min_doc"], kept[0]["min_doc"]])

    content = {i: r["content"] for i, r in enumerate(rows)}
    offset = (max(s["segment_id"] for s in segs) + 1) * SEG
    return {
        "partial": partial,
        "base": base,
        "src": src,
        "full": full,
        "append": spark.createDataFrame(rows[N_BASE:], schema),
        "delete": [kept[1]["min_doc"] + 1, merged[1]["min_doc"] + 1],
        "content": content,
        "src_content": {**content, **{offset + i: r["content"] for i, r in enumerate(src_rows)}},
    }


# name -> (fixture dir, operation, doc_id -> content)
SCENARIOS = {
    "build_resume": (
        "partial",
        lambda spark, b, s: build_segments(s["full"], b, segment_size=SEG, resume=True),
        "content",
    ),
    "append": ("base", lambda spark, b, s: append_batch(s["append"], b), "content"),
    "delete": (
        "base",
        lambda spark, b, s: delete_by_ids(spark, SegmentIndex.open(b), s["delete"]),
        "content",
    ),
    "purging_merge": (
        "base",
        lambda spark, b, s: run_merges(spark, SegmentIndex.open(b), POLICY),
        "content",
    ),
    "add_indexes": (
        "base",
        lambda spark, b, s: add_indexes(spark, SegmentIndex.open(b), SegmentIndex.open(s["src"])),
        "src_content",
    ),
}


def _patch(monkeypatch, fail_at: dict[str, int], counts: dict[str, int]) -> None:
    """Count calls of the four I/O functions; the call numbered
    ``fail_at[name]`` raises instead of running."""
    targets = {
        "replace": (os, "replace"),
        "dump": (json, "dump"),
        "rmtree": (shutil, "rmtree"),
        "parquet": (DataFrameWriter, "parquet"),
    }
    for name, (owner, attr) in targets.items():
        orig = getattr(owner, attr)

        def wrapper(*a, _name=name, _orig=orig, **kw):
            counts[_name] = counts.get(_name, 0) + 1
            if counts[_name] == fail_at.get(_name):
                raise InjectedCrash(f"{_name} call {counts[_name]}")
            return _orig(*a, **kw)

        monkeypatch.setattr(owner, attr, wrapper)


def _segment_dirs(base: str) -> set[str]:
    return {
        f"{table}/{d}"
        for table in ("segments", "seg_docs")
        for d in os.listdir(f"{base}/{table}")
        if d.startswith("segment_id=")
    }


def _block(base: str, segment_dir: str) -> None:
    """Put a file where a writer task must create ``segment_dir``."""
    with open(f"{base}/{segment_dir}", "wb"):
        pass


def _snapshot(base: str) -> tuple:
    """What a commit publishes: doc_count, segment list, tombstones."""
    idx = SegmentIndex.open(base)
    m = idx.manifest()
    segs = sorted(json.dumps(s, sort_keys=True) for s in m["segments"])
    return m["doc_count"], tuple(segs), frozenset(read_tombstones(idx).tolist())


def _expected(base: str, content: dict[int, str]) -> dict:
    """OracleIndex top-10 over the snapshot's documents: every doc its
    segments hold counts in the stats, tombstoned ones never surface."""
    from lucene_solr_spark.oracle.engine import OracleIndex

    m = SegmentIndex.open(base).manifest()
    docs = sorted(
        d
        for s in m["segments"]
        for d in pq.read_table(
            f"{base}/seg_docs/segment_id={s['segment_id']}", columns=["doc_id"]
        )["doc_id"].to_pylist()
    )
    dead = _snapshot(base)[2]
    oracle = OracleIndex((d, content[d]) for d in docs)
    return {
        qid: [
            (h.doc_id, bits(h.score))
            for h in oracle.search(q, k=10 + len(dead))
            if h.doc_id not in dead
        ][:10]
        for qid, q in QUERIES.items()
    }


def _engine(spark, base: str) -> dict:
    s = SegmentSearcher(spark, SegmentIndex.open(base), mode="float32")
    rows = s.topk_batch(QUERIES, k=10).collect()
    got: dict[str, list] = {qid: [] for qid in QUERIES}
    for r in sorted(rows, key=lambda r: (-r["score"], r["doc_id"])):
        got[r["query_id"]].append((r["doc_id"], bits(r["score"])))
    return got


@pytest.fixture(scope="module")
def references(spark, setup, tmp_path_factory):
    """Per scenario: the before and after snapshots with their oracle
    rankings, how often a clean run calls each I/O function, and the
    segment dirs its tasks create."""
    out = {}

    def get(name):
        if name not in out:
            src_key, op, content_key = SCENARIOS[name]
            content = setup[content_key]
            before = setup[src_key]
            after = str(tmp_path_factory.mktemp(f"after_{name}") / "ix")
            shutil.copytree(before, after)
            counts: dict[str, int] = {}
            with pytest.MonkeyPatch.context() as mp:
                _patch(mp, {}, counts)
                op(spark, after, setup)
            created = sorted(_segment_dirs(after) - _segment_dirs(before))
            counts["segment_dir"] = len(created)
            snaps = {
                _snapshot(before): _expected(before, content),
                _snapshot(after): _expected(after, content),
            }
            assert len(snaps) == 2, f"{name} did not change the index"
            out[name] = (snaps, counts, created)
        return out[name]

    return get


@pytest.mark.parametrize("call", CALLS)
@pytest.mark.parametrize("scenario", list(SCENARIOS))
def test_crash_leaves_old_or_new_snapshot(spark, setup, references, tmp_path, scenario, call):
    snaps, counts, created = references(scenario)
    src_key, op, _ = SCENARIOS[scenario]
    for n in range(1, counts.get(call, 0) + 1):
        base = str(tmp_path / f"crash_{n}")
        shutil.copytree(setup[src_key], base)
        if call == "segment_dir":
            _block(base, created[n - 1])
            with pytest.raises(Exception, match="FileExistsError"):
                op(spark, base, setup)
        else:
            with pytest.MonkeyPatch.context() as mp:
                _patch(mp, {call: n}, {})
                try:
                    op(spark, base, setup)
                except InjectedCrash:
                    pass
        where = f"{scenario}: crash at {call} call {n}"
        try:
            snap = _snapshot(base)
        except ValueError as e:
            pytest.fail(f"{where}: the manifest does not parse: {e}")
        assert snap in snaps, f"{where}: neither the old nor the new snapshot"
        rep = check_index(spark, SegmentIndex.open(base))
        assert rep["clean"], f"{where}: {rep['problems'][:3]}"
        assert _engine(spark, base) == snaps[snap], f"{where}: ranking differs"


def test_resume_after_a_crash_converges(spark, setup, references, tmp_path):
    """A crashed resume leaves segment files the manifest does not name;
    once the fault is gone, resuming again replaces them and converges."""
    snaps, _, _ = references("build_resume")
    base = str(tmp_path / "ix")
    shutil.copytree(setup["partial"], base)
    last = N_BASE // SEG - 1
    # the task writing the last segment fails after its term rows
    _block(base, f"seg_docs/segment_id={last}")
    with pytest.raises(Exception, match="FileExistsError"):
        build_segments(setup["full"], base, segment_size=SEG, resume=True)
    assert os.listdir(f"{base}/segments/segment_id={last}")
    assert last not in {s["segment_id"] for s in SegmentIndex.open(base).manifest()["segments"]}
    os.remove(f"{base}/seg_docs/segment_id={last}")
    build_segments(setup["full"], base, segment_size=SEG, resume=True)
    snap = _snapshot(base)
    assert snap == max(snaps, key=lambda s: s[0])  # the larger, resumed one
    assert check_index(spark, SegmentIndex.open(base))["clean"]
    assert _engine(spark, base) == snaps[snap]


# ------------------------------------------------------------------ guard
PKG = Path(lucene_solr_spark.__file__).parent
WRITES = {"json.dump", "os.replace", "os.rename", "shutil.move"}


def _is_write(call: ast.Call) -> bool:
    f = ast.unparse(call.func)
    if f in WRITES:
        return True
    if f == "open" or f.endswith((".open", "fdopen")):
        mode = call.args[1] if len(call.args) > 1 else None
        mode = next((k.value for k in call.keywords if k.arg == "mode"), mode)
        return isinstance(mode, ast.Constant) and any(c in str(mode.value) for c in "wax+")
    return False


def test_only_commit_writes_the_manifest():
    """Nothing but ``segments.commit`` writes ``manifest.json``, and no
    index module renames files outside ``segments.py`` — a sixth ad-hoc
    commit fails here."""
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            names_manifest = any(
                isinstance(n, ast.Constant) and "manifest.json" in str(n.value)
                for n in ast.walk(fn)
            )
            writes = [c for c in ast.walk(fn) if isinstance(c, ast.Call) and _is_write(c)]
            if names_manifest and writes and (rel, fn.name) != ("operators/segments.py", "commit"):
                bad.append(f"{rel}:{writes[0].lineno} {fn.name} writes the manifest")
        if rel.startswith(("operators/", "streaming/")) and rel != "operators/segments.py":
            for c in ast.walk(tree):
                if isinstance(c, ast.Call) and ast.unparse(c.func) in ("os.replace", "os.rename"):
                    bad.append(f"{rel}:{c.lineno} renames outside the commit point")
    assert not bad, bad


def _writes_segment_files(call: ast.Call) -> bool:
    f = ast.unparse(call.func)
    if f.endswith(("write_table", "write_dataset")):
        return True
    return f.endswith(".partitionBy") and any(
        isinstance(a, ast.Constant) and a.value == "segment_id" for a in call.args
    )


def test_only_the_segment_writer_writes_segments():
    """Nothing outside ``operators/segments.py`` writes under
    ``segments/`` or ``seg_docs/``: no pyarrow ``write_table`` and no
    ``partitionBy("segment_id")`` Spark write — every writer goes through
    ``write_segment``."""
    bad = [
        f"{rel}:{c.lineno} {ast.unparse(c.func)}"
        for path in sorted(PKG.rglob("*.py"))
        if (rel := path.relative_to(PKG).as_posix()) != "operators/segments.py"
        for c in ast.walk(ast.parse(path.read_text()))
        if isinstance(c, ast.Call) and _writes_segment_files(c)
    ]
    assert not bad, bad

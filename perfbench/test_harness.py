"""Self-tests of the benchmark harness; no Spark needed.

    python3 -m pytest perfbench/test_harness.py -q

They pin what the benchmark's correctness gate rests on: inputs are a pure
function of the seed, the planted answers agree with a brute-force reading
of the generated files, and every checker rejects a corrupted output.
"""

from __future__ import annotations

import csv
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from checks import check_dedup, check_sync  # noqa: E402


def _tree(root: str) -> dict[str, tuple[bytes, float | None]]:
    """Relative path → (bytes, mtime); the mtime only where it orders the
    stream's files."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                mtime = os.path.getmtime(p) if os.path.basename(d) == "incoming" else None
                out[os.path.relpath(p, root)] = (fh.read(), mtime)
    return out


def _make_all(root: str, seed: int):
    return (
        gen.make_sync(os.path.join(root, "sync"), seed),
        gen.make_corpus(os.path.join(root, "corpus"), seed),
        gen.make_stream_corpus(os.path.join(root, "stream"), seed),
    )


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _make_all(str(tmp_path / "a"), 7)
    b = _make_all(str(tmp_path / "b"), 7)
    assert a == b
    ta, tb = _tree(str(tmp_path / "a")), _tree(str(tmp_path / "b"))
    assert ta and ta == tb


def test_other_seed_gives_other_inputs_with_same_answer_sizes(tmp_path):
    sync_a, corpus_a, _ = _make_all(str(tmp_path / "a"), 7)
    sync_b, corpus_b, _ = _make_all(str(tmp_path / "b"), 8)
    ta, tb = _tree(str(tmp_path / "a")), _tree(str(tmp_path / "b"))
    assert ta.keys() == tb.keys()
    changed = [k for k in ta if ta[k][0] != tb[k][0] and not k.endswith("catalog.json")]
    assert len(changed) == len(ta) - 2  # everything but the two catalogs
    assert sync_a == sync_b  # the planted sizes, not the rows
    assert corpus_a.n_docs == corpus_b.n_docs
    assert len(corpus_a.survivors) == len(corpus_b.survivors)
    assert corpus_a.survivors != corpus_b.survivors


def _read_csv(path: str) -> dict[int, str]:
    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    return {int(r[0]): ",".join(r) for r in rows[1:]}


def test_sync_answer_matches_the_files(tmp_path):
    answer = gen.make_sync(str(tmp_path), 3)
    for stream in gen.SYNC_ROWS:
        base = _read_csv(str(tmp_path / "base" / "sync-output" / f"{stream}-20240101T000000.csv"))
        inc = _read_csv(str(tmp_path / "increment" / "sync-output" / f"{stream}-20240102T000000.csv"))
        assert answer.snapshot_rows[stream] == len(base.keys() | inc.keys())
        assert answer.records[stream] == sum(1 for i, row in inc.items() if base.get(i) != row)
        assert len(base.keys() & inc.keys()) == len(inc) // 2


def _shingles(text: str, n: int = 3) -> frozenset[str]:
    t = text.lower().split()
    return frozenset(" ".join(t[i : i + n]) for i in range(max(len(t) - n + 1, 1)))


def test_corpus_answer_matches_brute_force_jaccard():
    """A doc survives iff no lower-id doc is a near-duplicate at the engine's
    0.7 threshold, and every dropped doc has a lower-id neighbour far above
    it (>= 0.85), so LSH finds the pair with near certainty."""
    docs, answer = gen.corpus_docs(4)
    sh = [_shingles(t) for _i, t in docs]
    index: dict[str, list[int]] = defaultdict(list)
    best_lower = [0.0] * len(docs)
    for i, s in enumerate(sh):
        seen: set[int] = set()
        for g in s:
            for j in index[g]:
                if j not in seen:
                    seen.add(j)
                    best_lower[i] = max(best_lower[i], len(s & sh[j]) / len(s | sh[j]))
            index[g].append(i)
    for i in range(len(docs)):
        if i in answer.survivors:
            assert best_lower[i] < 0.7, i
        else:
            assert best_lower[i] >= 0.85, i
    assert [i for i, _t in docs] == list(range(answer.n_docs))


def _singer_lines(answer: gen.SyncAnswer) -> list[str]:
    lines = []
    for stream, n in answer.records.items():
        lines.append(f'{{"type": "SCHEMA", "stream": "{stream}", "schema": {{}}, "key_properties": ["id"]}}')
        lines += [f'{{"type": "RECORD", "stream": "{stream}", "record": {{"id": {i}}}}}' for i in range(n)]
        lines.append('{"type": "STATE", "value": {}}')
    return lines


def test_sync_checker_accepts_the_answer_and_rejects_corruptions():
    answer = gen.SyncAnswer(snapshot_rows={"orders": 10, "users": 4}, records={"orders": 6, "users": 2})
    ids = {s: (n, n) for s, n in answer.snapshot_rows.items()}
    lines = _singer_lines(answer)
    assert check_sync(answer, ids, lines) == []

    record = next(i for i, l in enumerate(lines) if '"RECORD"' in l)
    schema = next(i for i, l in enumerate(lines) if '"SCHEMA"' in l)
    state = next(i for i, l in enumerate(lines) if '"STATE"' in l)
    corrupt = {
        "record dropped": (ids, lines[:record] + lines[record + 1 :]),
        "record repeated": (ids, lines + [lines[record]]),
        "schema repeated": (ids, lines + [lines[schema]]),
        "state dropped": (ids, lines[:state] + lines[state + 1 :]),
        "unknown stream": (ids, lines + [lines[record].replace('"orders"', '"ghost"')]),
        "snapshot row lost": ({**ids, "orders": (9, 9)}, lines),
        "snapshot id repeated": ({**ids, "orders": (10, 9)}, lines),
        "snapshot missing": ({"users": ids["users"]}, lines),
    }
    for what, (bad_ids, bad_lines) in corrupt.items():
        assert check_sync(answer, bad_ids, bad_lines), what


def test_dedup_checker_accepts_the_answer_and_rejects_corruptions():
    docs, answer = gen.corpus_docs(5)
    text = dict(docs)
    good = [(i, text[i]) for i in sorted(answer.survivors)]
    assert check_dedup(answer, good) == []

    dropped = next(i for i in range(answer.n_docs) if i not in answer.survivors)
    a, b = good[0], good[1]
    corrupt = {
        "survivor lost": good[1:],
        "duplicate kept": good + [(dropped, text[dropped])],
        "id repeated": good + [a],
        "text shared": [a, (b[0], a[1])] + good[2:],
    }
    for what, rows in corrupt.items():
        assert check_dedup(answer, rows), what


def test_stream_files_are_id_ordered_with_increasing_mtimes(tmp_path):
    import pyarrow.parquet as pq

    answer = gen.make_stream_corpus(str(tmp_path), 6)
    parts = sorted(os.listdir(tmp_path / "incoming"))
    assert len(parts) == gen.STREAM_FILES
    ids, mtimes = [], []
    for p in parts:
        path = tmp_path / "incoming" / p
        ids += pq.read_table(path).column("id").to_pylist()
        mtimes.append(os.path.getmtime(path))
    assert ids == list(range(answer.n_docs))
    assert mtimes == sorted(set(mtimes))

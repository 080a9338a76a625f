"""Planted-answer checkers. Pure Python over collected outputs, so the
harness self-tests can feed them corrupted outputs without Spark. Each
returns a list of problems; an empty list means the op's output is right.
"""

from __future__ import annotations

import json
from collections import Counter
from typing import Iterable

from gen import CorpusAnswer, SyncAnswer


def check_sync(
    answer: SyncAnswer,
    snapshot_ids: dict[str, tuple[int, int]],
    singer_lines: Iterable[str],
) -> list[str]:
    """``snapshot_ids``: per stream, (rows, distinct ids) of the committed
    snapshot. ``singer_lines``: every line of the op's Singer output."""
    problems = []
    for stream, want in answer.snapshot_rows.items():
        rows, distinct = snapshot_ids.get(stream, (0, 0))
        if rows != want or distinct != want:
            problems.append(f"{stream}: snapshot has {rows} rows / {distinct} ids, want {want}")
    kinds: Counter = Counter()
    for line in singer_lines:
        msg = json.loads(line)
        kinds[(msg["type"], msg.get("stream"))] += 1
    for stream, want in answer.records.items():
        got = kinds[("RECORD", stream)]
        if got != want:
            problems.append(f"{stream}: {got} RECORD lines, want {want}")
        if kinds[("SCHEMA", stream)] != 1:
            problems.append(f"{stream}: {kinds[('SCHEMA', stream)]} SCHEMA lines, want 1")
    n_state = kinds[("STATE", None)]
    if n_state != len(answer.records):
        problems.append(f"{n_state} STATE lines, want one per stream ({len(answer.records)})")
    extra = {s for _t, s in kinds if s is not None} - set(answer.records)
    if extra:
        problems.append(f"unexpected streams {sorted(extra)}")
    return problems


def check_dedup(answer: CorpusAnswer, survivors: list[tuple[int, str]]) -> list[str]:
    """``survivors``: (id, text) rows the dedup kept."""
    problems = []
    ids = [i for i, _t in survivors]
    got = set(ids)
    if len(ids) != len(got):
        problems.append(f"{len(ids) - len(got)} survivor ids repeated")
    if got != answer.survivors:
        missing, extra = answer.survivors - got, got - answer.survivors
        problems.append(
            f"survivors differ: {len(missing)} planted survivors missing "
            f"(e.g. {sorted(missing)[:3]}), {len(extra)} extra (e.g. {sorted(extra)[:3]})"
        )
    texts = Counter(t for _i, t in survivors)
    shared = sum(1 for n in texts.values() if n > 1)
    if shared:
        problems.append(f"{shared} texts shared by more than one survivor")
    return problems

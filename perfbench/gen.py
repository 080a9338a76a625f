"""Seeded input generators with planted answers.

Every input the benchmark feeds the engine comes from here, as a pure
function of the seed: the same seed writes byte-identical files, another
seed writes different files with the same planted-answer sizes. Each
generator returns the answer the workload's checker compares against, so
correctness never depends on running the engine twice.
"""

from __future__ import annotations

import csv
import json
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# -- singer_sync -------------------------------------------------------------

# Rows in the incoming `orders` sync and in its base snapshot.
SYNC_ROWS = {"orders": 30_000}
# Half of the incoming ids are already in the base snapshot; of those, this
# share is byte-identical to the base row (drop_redundant must remove them)
# and the rest changed.
UNCHANGED_SHARE = 0.4
STATUSES = ["new", "paid", "shipped", "returned", "cancelled"]
SYNC_SCHEMAS = {
    "orders": {
        "id": {"type": ["integer", "null"]},
        "customer_id": {"type": ["integer", "null"]},
        "status": {"type": ["string", "null"]},
        "amount": {"type": ["number", "null"]},
        "created_at": {"type": ["string", "null"], "format": "date-time"},
        "meta": {"type": ["string", "null"]},
    },
}
JSON_COLUMN = "meta"


@dataclass(frozen=True)
class SyncAnswer:
    """Per stream: ids in base ∪ increment, and RECORD lines the sink must
    emit (new ids plus changed ids; unchanged rows are dropped)."""

    snapshot_rows: dict[str, int]
    records: dict[str, int]


def _ts(rng: random.Random) -> str:
    day = rng.randrange(1, 29)
    return f"2024-{rng.randrange(1, 13):02d}-{day:02d}T{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}Z"


def _row(rid: int, rng: random.Random) -> list:
    # Every JSON object carries every key with one JSON type, so schema
    # inference on the base and on the increment agrees and identical rows
    # hash identically in drop_redundant.
    meta = {
        "sku": f"SKU-{rng.randrange(10_000):05d}",
        "qty": rng.randrange(1, 20),
        "price": round(rng.uniform(1, 500), 2),
        "channel": rng.choice(["web", "app", "pos"]),
    }
    return [rid, rng.randrange(50_000), rng.choice(STATUSES),
            round(rng.uniform(1, 5000), 2), _ts(rng), json.dumps(meta)]


def _change(row: list) -> list:
    row = list(row)
    row[2] = STATUSES[(STATUSES.index(row[2]) + 1) % len(STATUSES)]
    meta = json.loads(row[5])
    meta["qty"] += 1
    row[5] = json.dumps(meta)
    return row


def _write_csv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _catalog() -> dict:
    return {
        "streams": [
            {
                "stream": s,
                "tap_stream_id": s,
                "schema": {"type": "object", "properties": props},
                "metadata": [{"breadcrumb": [], "metadata": {"table-key-properties": ["id"]}}],
            }
            for s, props in SYNC_SCHEMAS.items()
        ]
    }


def make_sync(root: str, seed: int) -> SyncAnswer:
    """Write two hotglue sync dirs: ``root/base`` (the previous sync that
    seeds the snapshot) and ``root/increment`` (the sync every op runs).
    Each holds ``catalog.json`` and ``sync-output/{stream}-{ts}.csv``."""
    rng = random.Random(seed)
    snap_rows: dict[str, int] = {}
    records: dict[str, int] = {}
    for kind in ("base", "increment"):
        os.makedirs(os.path.join(root, kind, "sync-output"), exist_ok=True)
        with open(os.path.join(root, kind, "catalog.json"), "w") as f:
            json.dump(_catalog(), f, indent=1, sort_keys=True)
    for stream, n in SYNC_ROWS.items():
        header = list(SYNC_SCHEMAS[stream])
        # Base ids are scattered over [0, 2n) so that new ids interleave
        # with old ones instead of forming one tail range.
        ids = rng.sample(range(2 * n), 2 * n)
        base_ids, fresh_ids = ids[:n], ids[n : n + n - n // 2]
        base = {rid: _row(rid, rng) for rid in sorted(base_ids)}
        overlap = rng.sample(sorted(base_ids), n // 2)
        n_same = int(len(overlap) * UNCHANGED_SHARE)
        inc = [base[rid] for rid in overlap[:n_same]]
        inc += [_change(base[rid]) for rid in overlap[n_same:]]
        inc += [_row(rid, rng) for rid in fresh_ids]
        rng.shuffle(inc)
        _write_csv(os.path.join(root, "base", "sync-output", f"{stream}-20240101T000000.csv"),
                   header, list(base.values()))
        _write_csv(os.path.join(root, "increment", "sync-output", f"{stream}-20240102T000000.csv"),
                   header, inc)
        snap_rows[stream] = n + len(fresh_ids)
        records[stream] = len(inc) - n_same
    return SyncAnswer(snap_rows, records)


# -- corpus_dedup / stream_dedup -----------------------------------------------

VOCAB = 3_000
SINGLETONS = 1_000
FAMILIES = 150
FAMILY_SIZE = 6  # root + 5 members, each an edit of an earlier member
EXACT_COPIES = 200
MIN_TOKENS, MAX_TOKENS = 40, 200
# Family docs are long enough that one token substitution keeps the
# 3-shingle Jaccard to the parent above 0.9, where 16x4 LSH misses a pair
# with probability < 1e-7; the verify threshold is 0.7.
FAMILY_MIN_TOKENS = 80
STREAM_FILES = 2


@dataclass(frozen=True)
class CorpusAnswer:
    n_docs: int
    survivors: frozenset[int]


def _vocab(rng: random.Random) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < VOCAB:
        words.add("".join(rng.choice(letters) for _ in range(rng.randrange(3, 10))))
    return sorted(words)


def _edit(tokens: list[str], vocab: list[str], rng: random.Random) -> list[str]:
    out = list(tokens)
    i = rng.randrange(len(out))
    w = out[i]
    while w == out[i]:
        w = rng.choice(vocab)
    out[i] = w
    return out


def corpus_docs(seed: int) -> tuple[list[tuple[int, str]], CorpusAnswer]:
    """Documents as (id, text), id-ordered, plus the planted survivor set.

    Planted structure: singletons; families whose members are single-token
    edits of an earlier member (chains and trees, so connected components
    must join links that are not near-dups of the root); and exact copies of
    any earlier doc. Ids are ranks of a sort key that puts every derived doc
    after the doc it derives from, so every non-root doc has a lower-id
    near-duplicate: greedy pair dropping (the streaming rule) and
    keep-min-per-component (cluster_dedup) keep the same set, the roots.
    """
    rng = random.Random(seed * 7919 + 17)
    vocab = _vocab(rng)
    docs: list[tuple[float, list[str], bool]] = []  # (key, tokens, survives)

    def fresh(lo: int) -> list[str]:
        return [rng.choice(vocab) for _ in range(rng.randrange(lo, MAX_TOKENS + 1))]

    for _ in range(SINGLETONS):
        docs.append((rng.random(), fresh(MIN_TOKENS), True))
    for _ in range(FAMILIES):
        members = [(rng.random(), fresh(FAMILY_MIN_TOKENS))]
        docs.append((members[0][0], members[0][1], True))
        for _ in range(FAMILY_SIZE - 1):
            # parent: the previous member (chain) or any earlier one (tree)
            pkey, ptoks = members[-1] if rng.random() < 0.6 else rng.choice(members)
            child = (pkey + rng.uniform(1e-6, 0.05), _edit(ptoks, vocab, rng))
            members.append(child)
            docs.append((child[0], child[1], False))
    for _ in range(EXACT_COPIES):
        key, toks, _s = rng.choice(docs)
        docs.append((key + rng.uniform(1e-6, 0.05), toks, False))
    docs.sort(key=lambda d: d[0])
    texts = [" ".join(t) for _k, t, _s in docs]
    originals = {t for (_k, _t, s), t in zip(docs, texts) if s}
    if len(originals) != sum(s for _k, _t, s in docs):
        raise ValueError("generator drew two identical planted originals; change the seed")
    survivors = frozenset(i for i, (_k, _t, s) in enumerate(docs) if s)
    return list(enumerate(texts)), CorpusAnswer(len(texts), survivors)


_CORPUS_SCHEMA = pa.schema([("id", pa.int64()), ("text", pa.string())])


def write_corpus(path: str, docs: list[tuple[int, str]]) -> None:
    table = pa.Table.from_pylist([{"id": i, "text": t} for i, t in docs], schema=_CORPUS_SCHEMA)
    pq.write_table(table, path, compression="zstd")


def make_corpus(root: str, seed: int) -> CorpusAnswer:
    """One parquet file ``root/corpus.parquet``."""
    docs, answer = corpus_docs(seed)
    os.makedirs(root, exist_ok=True)
    write_corpus(os.path.join(root, "corpus.parquet"), docs)
    return answer


def make_stream_corpus(root: str, seed: int) -> CorpusAnswer:
    """The same corpus split into STREAM_FILES id-ordered parquet files under
    ``root/incoming``. Modification times increase with the id range so the
    file source hands them out in id order, one per trigger."""
    docs, answer = corpus_docs(seed)
    src = os.path.join(root, "incoming")
    os.makedirs(src, exist_ok=True)
    per = -(-len(docs) // STREAM_FILES)
    for k in range(STREAM_FILES):
        p = os.path.join(src, f"part-{k:03d}.parquet")
        write_corpus(p, docs[k * per : (k + 1) * per])
        os.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))
    return answer

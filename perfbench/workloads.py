"""The three workloads. Each one generates its inputs from the seed, builds
its base state once (``prepare``; it returns the seconds of a pass through
the op's calls when it made one), and then runs ops: ``reset`` (untimed)
puts the state back to the base, ``op`` (timed) runs the engine's public
calls, ``check`` (untimed) compares the op's output with the planted answer.

Every public engine call runs inside ``tr.span(layer)``, so the traced run
can attribute Spark jobs to the layer that launched them.
"""

from __future__ import annotations

import os
import shutil
import time
from statistics import median

from gluestick_spark.llm.dedup import cluster_dedup, exact_dedup, minhash_near_dup_pairs
from gluestick_spark.operators.restructure import explode_json_to_cols
from gluestick_spark.operators.snapshot import drop_redundant, snapshot_records
from gluestick_spark.sinks.export import to_export
from gluestick_spark.sources.reader import Reader
from gluestick_spark.streaming.pipeline import stream_from_directory, streaming_minhash_dedup
from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen
from checks import check_dedup, check_sync

MB = 1024 * 1024


def dir_mb(*paths: str) -> float:
    total = 0
    for p in paths:
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MB


def _fresh(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


class SingerSync:
    """One hotglue tenant sync: read → explode JSON → snapshot upsert →
    drop_redundant → Singer export, for each stream of the sync."""

    name = "singer_sync"

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.inputs = os.path.join(work, "inputs")
        self.base_state = os.path.join(work, "base_state")
        self.ops = 0
        self.state = self.out = ""

    def prepare(self, tr) -> float:
        """Returns the seconds of the base sync, a pass through the op's calls."""
        self.answer = gen.make_sync(self.inputs, self.seed)
        self.input_rows = sum(gen.SYNC_ROWS.values())
        # The previous sync, run through the same calls, leaves the base
        # snapshot and the base hash snapshot.
        t0 = time.perf_counter()
        self._sync(tr, os.path.join(self.inputs, "base"), self.base_state, os.path.join(self.work, "base_out"))
        return time.perf_counter() - t0

    def reset(self) -> None:
        # Each op gets its state and output in new dirs. drop_redundant
        # persists its result and never unpersists it; with the same paths,
        # the next op's plan would equal the cached one and Spark would
        # answer it from that cache, which a sync in a fresh process never
        # can. New paths keep every op's plan new; the leaked frames stay
        # cached and show in retained_mb.
        _fresh(self.state, self.out)
        self.ops += 1
        self.state = os.path.join(self.work, f"state-{self.ops}")
        self.out = os.path.join(self.work, f"out-{self.ops}")
        shutil.copytree(self.base_state, self.state)

    def op(self, tr) -> None:
        self._sync(tr, os.path.join(self.inputs, "increment"), self.state, self.out)

    def _sync(self, tr, root: str, state: str, out: str) -> None:
        with tr.span("reader"):
            reader = Reader(self.spark, root_dir=root)
        for stream in reader.keys():
            with tr.span("reader"):
                df = reader.get(stream, catalog_types=True)
            with tr.span("restructure"):
                df = explode_json_to_cols(df, gen.JSON_COLUMN)
            with tr.span("snapshot"):
                snapshot_records(self.spark, df, stream, state, pk="id")
            with tr.span("drop_redundant"):
                changed = drop_redundant(self.spark, df, stream, state, pk="id")
            with tr.span("sink"):
                to_export(changed, stream, out, keys=["id"], export_format="singer", reader=reader)

    def check(self) -> list[str]:
        ids = {}
        for stream in self.answer.snapshot_rows:
            snap = self.spark.read.parquet(os.path.join(self.state, f"{stream}.snapshot.parquet"))
            row = snap.agg(F.count("*").alias("n"), F.countDistinct("id").alias("d")).first()
            ids[stream] = (row["n"], row["d"])
        with open(os.path.join(self.out, "data.singer")) as f:
            return check_sync(self.answer, ids, f)

    def written(self) -> list[str]:
        return [self.state, self.out]


class CorpusDedup:
    """Batch LLM-corpus curation: exact dedup → MinHash near-dup pairs →
    connected-components cluster dedup, written once."""

    name = "corpus_dedup"

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")

    def prepare(self, tr) -> None:
        self.answer = gen.make_corpus(self.inputs, self.seed)
        self.input_rows = self.answer.n_docs

    def reset(self) -> None:
        _fresh(self.out)

    def op(self, tr) -> None:
        with tr.span("corpus.read"):
            docs = self.spark.read.parquet(os.path.join(self.inputs, "corpus.parquet"))
        with tr.span("exact_dedup"):
            unique = exact_dedup(docs, "text", "id")
        with tr.span("near_dup_pairs"):
            pairs = minhash_near_dup_pairs(unique, "text", "id")
        with tr.span("cluster_dedup"):
            kept = cluster_dedup(unique, pairs, "id")
        with tr.span("corpus.exec"):
            kept.write.mode("overwrite").parquet(self.out)

    def check(self) -> list[str]:
        rows = self.spark.read.parquet(self.out).collect()
        return check_dedup(self.answer, [(r["id"], r["text"]) for r in rows])

    def written(self) -> list[str]:
        return [self.out]


STREAM_SCHEMA = T.StructType([T.StructField("id", T.LongType()), T.StructField("text", T.StringType())])


class StreamDedup:
    """The corpus as id-ordered files, deduplicated incrementally: one
    micro-batch per file, from empty state on every op."""

    name = "stream_dedup"

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.inputs = os.path.join(work, "inputs")
        self.state = os.path.join(work, "state")
        self.out = os.path.join(work, "out")
        self.ckpt = os.path.join(work, "checkpoint")

    def prepare(self, tr) -> None:
        self.answer = gen.make_stream_corpus(self.inputs, self.seed)
        self.input_rows = self.answer.n_docs

    def reset(self) -> None:
        _fresh(self.state, self.out, self.ckpt)

    def op(self, tr) -> None:
        with tr.span("stream.start"):
            src = stream_from_directory(
                self.spark, os.path.join(self.inputs, "incoming"), STREAM_SCHEMA, max_files_per_trigger=1
            )
            query = streaming_minhash_dedup(src, "text", "id", self.state, self.out, self.ckpt)
        with tr.span("stream.run") as groups:
            # the query's jobs run under its run id, not under our group
            groups.append(str(query.runId))
            query.awaitTermination()
        tr.op.triggers = [p for p in query.recentProgress if p.numInputRows > 0]

    def check(self) -> list[str]:
        rows = self.spark.read.parquet(self.out).collect()
        return check_dedup(self.answer, [(r["id"], r["text"]) for r in rows])

    def written(self) -> list[str]:
        return [self.state, self.out, self.ckpt]


WORKLOADS = {w.name: w for w in (SingerSync, CorpusDedup, StreamDedup)}


def trigger_metrics(triggers: list) -> dict[str, float]:
    """Per-trigger phases of one streaming op, from its progress reports."""
    if not triggers:
        return {}
    total = [p.durationMs["triggerExecution"] / 1000 for p in triggers]
    add = [p.durationMs.get("addBatch", 0) / 1000 for p in triggers]
    return {
        "trigger.n": len(triggers),
        "trigger.p50_s": median(total),
        "trigger.first_s": total[0],
        "trigger.last_s": total[-1],
        "trigger.add_batch_s": median(add),
        "trigger.overhead_s": median(t - a for t, a in zip(total, add)),
    }

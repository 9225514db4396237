"""The mechanism the two corpus folds share: the ingest fold
(``streaming.corpus_ingest``) and the refresh fold
(``streaming.corpus_refresh``) are both the reference's incremental
story — a high watermark plus an idempotent insert — run as a
file-source stream with one ``foreachBatch`` call per arriving file.
This module owns what they have in common; each fold keeps only its
own verdict logic.

**State layout.** A fold's state is ONE parquet relation,
``<state_dir>/<name>``, hive-partitioned by the micro-batch id:
each batch writes exactly one ``batch=N`` subdirectory with ONE
write, so the per-batch fold pays the fixed ~0.4-0.6 s/job
micro-batch floor once instead of once per artifact (guide §1.2/§5:
fewer driver barriers). The fold's artifacts ("kinds": band rows,
segment hashes, rebuilt docs, verdicts, fingerprints) share the
union schema declared in ``schemas.*_STATE_SCHEMA``, each kind's
unused columns NULL (:func:`kind_sql`). Kind dispatch at read time
is a NULL test on the kind's witness column; the union write emits
each branch's partitions as separate parquet FILES, so files stay
kind-pure and ``IS NOT NULL`` filters prune whole row groups via
parquet null-count stats — readers never pay for the kinds they
skip. ``batch=-1`` is reserved for a seed written before the stream
starts (a real batch id is ≥ 0).

**Replay.** ``foreachBatch`` is at-least-once: a crashed batch
re-runs. The batch's directory is written with OVERWRITE, and every
state read the batch makes excludes its own directory
(:meth:`FoldState.prior`) — the overwrite is deleting it, and state
reads must not see replay debris — so a replay is a no-op instead
of a duplicate: effective exactly-once without a transactional
table format.

**Watermark.** Both folds are prefix-stable only under id-ordered
arrival (every decision depends on smaller ids), so
:meth:`FoldState.guard_ids` rejects a batch whose smallest id is not
above the previous batch's largest. The bounds are ``observe()``
metrics on the relation the state write scans, so the check costs
no job; the watermark is a one-line driver-side JSON file
(``_id_watermark``), not a scan of the growing state. A rejected
batch's directory is removed before the ``ValueError``, so it leaves
no trace.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from enriched_crime_incident_data_pipeline_spark.streaming.source import (
    read_state,
)

_BATCH_COL = "batch"


def kind_sql(schema: T.StructType, *carried: str) -> tuple[str, ...]:
    """The SELECT list that projects a relation carrying the columns
    ``carried`` onto the state ``schema``: every other column is a
    typed NULL, in the schema's order (the ``batch`` partition column
    comes from the directory). SQL text, so a kind projection is one
    py4j call per batch, where the Column form costs a round trip per
    function per NULL; the folds generate theirs once, at import."""
    return tuple(
        f.name
        if f.name in carried
        else f"CAST(NULL AS {f.dataType.simpleString().upper()}) AS {f.name}"
        for f in schema
        if f.name != _BATCH_COL
    )


class FoldState:
    """One fold's state relation ``name`` under ``state_dir``, read
    under its declared ``schema`` (see the module docstring for the
    layout, replay and watermark contract)."""

    def __init__(self, state_dir: str, name: str, schema: T.StructType):
        self.path = os.path.join(state_dir, name)
        self.schema = schema
        self._wm_path = os.path.join(state_dir, "_id_watermark")
        # the id-bound aggregates, built once per fold, not per batch
        self._bounds = (F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))

    def batch_path(self, batch_id: int) -> str:
        return os.path.join(self.path, f"batch={batch_id}")

    def read(self, spark: SparkSession) -> DataFrame:
        """Every batch's rows (no footer job: the schema is declared)."""
        return read_state(spark, self.path, self.schema)

    def prior(self, spark: SparkSession, batch_id: int) -> DataFrame | None:
        """The state as batch ``batch_id`` must see it: every other
        batch's rows, or ``None`` before the first write."""
        if not os.path.exists(self.path):
            return None
        return self.read(spark).filter(f"{_BATCH_COL} != {int(batch_id)}")

    def write(self, df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(self.batch_path(batch_id))

    def observe_ids(
        self, df: DataFrame, batch_id: int
    ) -> tuple[DataFrame, Observation]:
        """``df`` with its ``min``/``max(doc_id)`` observed. Attach it
        DOWNSTREAM of any lazy checkpoint, on the relation the state
        write scans: a lazy ``localCheckpoint`` call emits an empty
        metrics event, so observing upstream of it yields ``None``
        bounds (measured)."""
        obs = Observation(f"{os.path.basename(self.path)}_bounds_{batch_id}")
        return df.observe(obs, *self._bounds), obs

    def guard_ids(
        self,
        obs: Observation,
        batch_id: int,
        fold: str,
        needs: str,
        floor: int | None = None,
    ) -> None:
        """After the batch's write: reject it if its smallest id is
        below ``floor`` or not above the watermark — ``fold`` names
        the fold and ``needs`` what id order it needs, for the error —
        else advance the watermark to its largest id."""
        lo, hi = obs.get["lo"], obs.get["hi"]
        if lo is not None and floor is not None and lo < floor:
            self._reject(
                batch_id,
                f"below-cutoff {fold}: batch {batch_id} min doc_id {lo} < "
                f"cutoff {floor}; ids below the cutoff are the standing "
                "corpus"
            )
        if lo is not None and os.path.exists(self._wm_path):
            with open(self._wm_path) as fh:
                wm = json.load(fh)
            # a REPLAY of this same batch (crash after the watermark
            # write, before the stream checkpoint committed) is legal
            # — the per-batch overwrite makes it idempotent; only a
            # genuinely different, earlier-id batch is an error
            if wm["batch_id"] != batch_id and lo <= wm["hi"]:
                self._reject(
                    batch_id,
                    f"out-of-order {fold}: batch {batch_id} min doc_id "
                    f"{lo} <= already-indexed max {wm['hi']}; {needs}"
                )
        if hi is not None:
            # atomic: write-then-rename so a crash mid-write leaves the
            # old complete watermark, never truncated JSON that would
            # wedge the next batch's json.load
            tmp_path = self._wm_path + ".tmp"
            with open(tmp_path, "w") as fh:
                json.dump({"batch_id": batch_id, "hi": hi}, fh)
            os.replace(tmp_path, self._wm_path)

    def _reject(self, batch_id: int, message: str) -> None:
        # un-write the batch's single state directory first, so the
        # rejected batch leaves NO trace
        shutil.rmtree(self.batch_path(batch_id), ignore_errors=True)
        raise ValueError(message)


def run_fold(
    spark: SparkSession,
    docs_dir: str,
    schema: T.StructType,
    state_dir: str,
    fn: Callable[[DataFrame, int], None],
) -> None:
    """Stream the parquet files of ``docs_dir`` through ``fn``, one
    micro-batch per file in file-timestamp order, AvailableNow, and
    wait for the end. The stream checkpoint is fresh per run
    (``_ckpt_<uuid hex>`` under ``state_dir``)."""
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
        .writeStream.foreachBatch(fn)
        .option(
            "checkpointLocation",
            os.path.join(state_dir, f"_ckpt_{uuid.uuid4().hex}"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

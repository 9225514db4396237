"""The three workloads, each driven through the program's public entry
points.

A workload stages its generated inputs (``stage``), runs one timed
pass at a time (``run_pass``), runs one pass with every layer traced
(``traced_pass``), and hands its final outputs to the checks
(``outputs``). ``round_len`` passes make one round; runs attempt whole
rounds only.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from enriched_crime_incident_data_pipeline_spark.enrich.geocode import (
    FixtureGeocoder,
    geocode_misses,
    resolve_misses,
    update_cache,
    with_coordinates,
)
from enriched_crime_incident_data_pipeline_spark.enrich.sides import with_side_of_town
from enriched_crime_incident_data_pipeline_spark.enrich.weather import with_weather
from enriched_crime_incident_data_pipeline_spark.operators.derive import to_silver
from enriched_crime_incident_data_pipeline_spark.operators.emsstat import (
    dedup_and_propagate,
    propagate_emsstat,
)
from enriched_crime_incident_data_pipeline_spark.operators.ranks import with_frequency_rank
from enriched_crime_incident_data_pipeline_spark.plans.events_adapter import (
    events_as_incidents_raw,
    synthetic_location_dim,
    synthetic_weather_hourly,
)
from enriched_crime_incident_data_pipeline_spark.plans.streaming_pipeline import (
    enriched_view,
    ingest_silver_to_gold,
)
from enriched_crime_incident_data_pipeline_spark.registry import spark_queries
from enriched_crime_incident_data_pipeline_spark.sinks.output import gold_projection
from enriched_crime_incident_data_pipeline_spark.sources.catalog import load_table
from enriched_crime_incident_data_pipeline_spark.sources.pdf import pdf_to_bronze
from enriched_crime_incident_data_pipeline_spark.sources.pdf_decode import pdf_pages_blocks
from enriched_crime_incident_data_pipeline_spark.streaming.corpus_ingest import (
    run_corpus_ingest_stream,
)
from enriched_crime_incident_data_pipeline_spark.streaming.corpus_refresh import (
    run_corpus_refresh_stream,
)

import gen

BINARY_DDL = "path string, modificationTime timestamp, length long, content binary"


def consume(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes_files(path: str) -> tuple[int, int]:
    """On-disk bytes and data files under ``path`` (Spark's ``.crc`` and
    ``_SUCCESS`` markers are not data)."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_") or n.startswith("."):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


class Workload:
    name = ""
    round_len = 1

    def __init__(self, spark, inputs: str, work: str):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.passes = 0

    def stage(self) -> None:
        """Copy the generated inputs into the program's input directories."""

    def before_pass(self) -> None:
        """Start a new round when the last one is complete."""

    def fresh_round(self) -> None:
        """Drop the round in progress; the next pass starts a new one."""

    def run_pass(self) -> None:
        raise NotImplementedError

    def traced_pass(self, tracer) -> None:
        raise NotImplementedError

    def stored_bytes_per_row(self) -> float:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# backfill
# ---------------------------------------------------------------------------


class Backfill(Workload):
    """One pass: ``flagship_enriched_report`` over the staged history."""

    name = "backfill"

    def stage(self) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        os.makedirs(self.sf_dir)
        shutil.copyfile(
            os.path.join(self.inputs, "events.parquet"),
            os.path.join(self.sf_dir, "events.parquet"),
        )
        self.flagship = spark_queries()["flagship_enriched_report"]
        with open(os.path.join(self.inputs, "meta.json")) as fh:
            self.meta = json.load(fh)

    def run_pass(self) -> None:
        consume(self.flagship(self.spark, self.sf_dir))
        self.passes += 1

    def traced_pass(self, tracer) -> None:
        """The flagship's composition, one pinned layer at a time."""
        events = tracer.pin("sources.load", load_table(self.spark, self.sf_dir, "events"))
        silver = tracer.pin("operators.silver", to_silver(events_as_incidents_raw(events)))
        base = tracer.pin("operators.dedup_emsstat", dedup_and_propagate(silver))
        ranked = with_frequency_rank(base, "location", "location_rank")
        ranked = tracer.pin("operators.ranks", with_frequency_rank(ranked, "nature", "incident_rank"))
        dim = synthetic_location_dim(events)
        coords = tracer.pin("enrich.geocode", with_coordinates(ranked, dim))
        sided = tracer.pin("enrich.sides", with_side_of_town(coords))
        wh = synthetic_weather_hourly(with_coordinates(base, dim))
        weather = tracer.pin("enrich.weather", with_weather(sided, wh))
        with tracer.layer("sinks.gold"):
            consume(gold_projection(weather))
        self.passes += 1

    def outputs(self) -> str:
        """Write one more flagship result to parquet for the checks."""
        out = os.path.join(self.work, "report")
        self.flagship(self.spark, self.sf_dir).write.mode("overwrite").parquet(out)
        return out

    def stored_bytes_per_row(self) -> float:
        b, _ = dir_bytes_files(os.path.join(self.work, "report"))
        return b / self.meta["rows"]


# ---------------------------------------------------------------------------
# daily_reports
# ---------------------------------------------------------------------------


class DailyReports(Workload):
    """One pass: one day of report PDFs, from landing to enriched view.

    ``stage`` runs the month's history days through the program's own
    ingest once, into a base gold table. A round is the remaining days:
    it starts from a copy of that base and the starting geocode cache."""

    name = "daily_reports"

    def stage(self) -> None:
        with open(os.path.join(self.inputs, "days.json")) as fh:
            self.days = json.load(fh)
        with open(os.path.join(self.inputs, "geocoder.json")) as fh:
            self.geocoder = FixtureGeocoder({k: tuple(v) for k, v in json.load(fh).items()})
        self.first = sum(1 for m in self.days if m["history"])
        self.round_len = len(self.days) - self.first
        self.inbox = os.path.join(self.work, "inbox")
        shutil.copytree(os.path.join(self.inputs, "pdfs"), self.inbox)
        tables = os.path.join(self.work, "tables")
        os.makedirs(tables)
        for name in ("weather_hourly.parquet", "cache0.parquet"):
            shutil.copyfile(os.path.join(self.inputs, name), os.path.join(tables, name))
        self.weather = self.spark.read.parquet(os.path.join(tables, "weather_hourly.parquet"))
        self.cache0 = os.path.join(tables, "cache0.parquet")
        self.gold_base = os.path.join(self.work, "history", "gold")
        self.landing = os.path.join(self.work, "history", "landing")
        os.makedirs(self.landing)
        for day in range(self.first):
            self._arrive(day)
        ingest_silver_to_gold(
            self._stream_silver(), self.gold_base, os.path.join(self.work, "history", "checkpoint")
        )
        self.rounds = 0
        self._new_round()

    def _new_round(self) -> None:
        self.round_dir = os.path.join(self.work, f"round{self.rounds}")
        self.rounds += 1
        self.landing = os.path.join(self.round_dir, "landing")
        self.gold = os.path.join(self.round_dir, "gold")
        self.ckpt = os.path.join(self.round_dir, "checkpoint")
        os.makedirs(self.landing)
        shutil.copytree(self.gold_base, self.gold)
        self.cache_version = 0
        self.cache_path = os.path.join(self.round_dir, "cache", "v0")
        os.makedirs(self.cache_path)
        shutil.copyfile(self.cache0, os.path.join(self.cache_path, "part-0.parquet"))
        self.day = self.first
        self.gold_rows_after: list[int] = []
        self.existing_rows: list[int] = []
        self.cache_probes: list[int] = []
        self.ms_per_pdf: list[float] = []

    def _arrive(self, day: int) -> list[str]:
        """Copy ``day``'s files into the landing directory, oldest first."""
        meta = self.days[day]
        src = os.path.join(self.inbox, f"day{day:02d}")
        paths = []
        for i, f in enumerate(meta["files"]):
            dst = os.path.join(self.landing, f["name"])
            shutil.copyfile(os.path.join(src, f["name"]), dst)
            stamp = 1_700_000_000 + day * 10 + i
            os.utime(dst, (stamp, stamp))
            paths.append(dst)
        return paths

    def _stream_silver(self):
        stream = (
            self.spark.readStream.format("binaryFile")
            .schema(BINARY_DDL)
            .option("pathGlobFilter", "*.pdf")
            .load(self.landing)
        )
        return to_silver(pdf_to_bronze(stream))

    def _write_cache(self, cache) -> None:
        self.cache_version += 1
        path = os.path.join(self.round_dir, "cache", f"v{self.cache_version}")
        cache.write.parquet(path)
        old, self.cache_path = self.cache_path, path
        shutil.rmtree(old, ignore_errors=True)

    def _cache(self):
        return self.spark.read.parquet(self.cache_path)

    def _gold_rows(self) -> int:
        return ds.dataset(self.gold, partitioning="hive").count_rows()

    def _end_day(self) -> None:
        self.gold_rows_after.append(self._gold_rows())
        self.day += 1
        self.passes += 1

    def before_pass(self) -> None:
        if self.day == len(self.days):
            shutil.rmtree(self.round_dir, ignore_errors=True)
            self._new_round()

    def fresh_round(self) -> None:
        self.day = len(self.days)
        self.before_pass()

    def run_pass(self) -> None:
        self._arrive(self.day)
        ingest_silver_to_gold(self._stream_silver(), self.gold, self.ckpt)
        gold = self.spark.read.parquet(self.gold)
        cache = self._cache()
        resolved = resolve_misses(self.spark, geocode_misses(gold, cache), self.geocoder)
        self._write_cache(update_cache(cache, resolved))
        consume(enriched_view(self.spark, self.gold, self._cache(), self.weather))
        self._end_day()

    def traced_pass(self, tracer) -> None:
        """The same day, one layer at a time: decode and typing pinned
        over a batch read of the day's files; the program's own
        ``ingest_silver_to_gold`` (its micro-batch jobs are filed by
        batch id, its parquet write by SQL execution); the geocode
        cache; then the enrichment layers over the whole gold table."""
        paths = self._arrive(self.day)
        t0 = time.perf_counter()
        for p in paths:
            with open(p, "rb") as fh:
                pdf_pages_blocks(fh.read())
        self.ms_per_pdf.append((time.perf_counter() - t0) * 1000 / len(paths))
        binary = self.spark.read.format("binaryFile").load(paths)
        bronze = tracer.pin("sources.pdf_decode", pdf_to_bronze(binary))
        tracer.pin("operators.silver", to_silver(bronze))
        before = self._gold_rows()
        self.existing_rows.append(before)
        with tracer.layer("operators.append") as span:
            ingest_silver_to_gold(self._stream_silver(), self.gold, self.ckpt)
        span.rows = self._gold_rows() - before
        gold = self.spark.read.parquet(self.gold)
        cache = self._cache()
        misses = tracer.pin("enrich.geocode_cache", geocode_misses(gold, cache))
        with tracer.layer("enrich.geocode_cache"):
            resolved = resolve_misses(self.spark, misses, self.geocoder)
            self._write_cache(update_cache(cache, resolved))
        self.cache_probes.append(tracer.count(gold.select("location").distinct()))
        gold = tracer.pin("sources.load", self.spark.read.parquet(self.gold).drop("incident_date"))
        base = tracer.pin("operators.dedup_emsstat", propagate_emsstat(gold))
        ranked = with_frequency_rank(base, "location", "location_rank")
        ranked = tracer.pin("operators.ranks", with_frequency_rank(ranked, "nature", "incident_rank"))
        coords = tracer.pin("enrich.geocode", with_coordinates(ranked, self._cache()))
        sided = tracer.pin("enrich.sides", with_side_of_town(coords))
        weather = tracer.pin("enrich.weather", with_weather(sided, self.weather))
        with tracer.layer("sinks.gold"):
            consume(weather)
        self._end_day()

    def outputs(self) -> dict:
        """Every PDF decoded, and the finished round's gold table, cache
        and enriched view."""
        binary = (
            self.spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.pdf")
            .load(self.inbox)
        )
        return {
            "decoded": pdf_to_bronze(binary).toArrow(),
            "gold": self.spark.read.parquet(self.gold).toArrow(),
            "cache": self._cache().toArrow(),
            "view": enriched_view(self.spark, self.gold, self._cache(), self.weather).toArrow(),
            "gold_rows_after": list(self.gold_rows_after),
        }

    def stored_bytes_per_row(self) -> float:
        gold_b, _ = dir_bytes_files(self.gold)
        cache_b, _ = dir_bytes_files(self.cache_path)
        rows = pq.read_metadata(os.path.join(self.inputs, "rows.parquet")).num_rows
        return (gold_b + cache_b) / rows


# ---------------------------------------------------------------------------
# corpus_stream
# ---------------------------------------------------------------------------


class _Corpus(Workload):
    """Staging shared by the two corpus folds. A pass runs its fold from
    a fresh state directory, so the seed is part of the pass."""

    def stage(self) -> None:
        self.sf_dir = os.path.join(self.work, "sf")
        os.makedirs(self.sf_dir)
        docs_file = os.path.join(self.sf_dir, "documents.parquet")
        shutil.copyfile(os.path.join(self.inputs, "documents.parquet"), docs_file)
        arriving = sorted(os.listdir(os.path.join(self.inputs, "arriving")))
        files = [os.path.join(self.inputs, "arriving", a) for a in arriving]
        if self.with_standing:
            files.insert(0, os.path.join(self.inputs, "standing.parquet"))
        self.docs_dir = os.path.join(self.work, "docs")
        os.makedirs(self.docs_dir)
        for i, src in enumerate(files):
            dst = os.path.join(self.docs_dir, f"batch{i:02d}.parquet")
            shutil.copyfile(src, dst)
            # the file source takes the oldest file first: arrival order is id order
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        self.n_docs = pq.read_metadata(docs_file).num_rows
        self.docs = self.spark.read.parquet(docs_file)
        self.schema = self.docs.schema
        self.state_dir = None

    def _fresh_state(self) -> str:
        if self.state_dir:
            shutil.rmtree(self.state_dir, ignore_errors=True)
        self.state_dir = os.path.join(self.work, f"state{self.passes}")
        os.makedirs(self.state_dir)
        return self.state_dir

    def run_pass(self) -> None:
        self.last = self._fold(self._fresh_state())
        consume(self.last)
        self.passes += 1

    def traced_pass(self, tracer) -> None:
        state = self._fresh_state()
        with tracer.layer(self.layer):
            self.last = self._fold(state)
        with tracer.layer("streaming.final_read"):
            consume(self.last)
        self.passes += 1

    def stored_bytes_per_row(self) -> float:
        b, _ = dir_bytes_files(self.state_dir)
        return b / self.n_docs


class CorpusStream(_Corpus):
    """One pass: the arriving batches through the refresh fold, seeded
    with the standing corpus (band index and fingerprints) and the
    evaluation grams."""

    name = "corpus_stream"
    layer = "streaming.refresh"
    with_standing = False

    def stage(self) -> None:
        super().stage()
        self.old_docs = self.docs.filter(F.col("doc_id") < gen.CORPUS_STANDING)
        self.eval_docs = self.docs.filter(F.col("doc_id") % gen.CORPUS_EVAL_MOD == 0).select(
            "doc_id", "text"
        )

    def _fold(self, state):
        return run_corpus_refresh_stream(
            self.spark, self.docs_dir, self.schema, state,
            self.old_docs, self.eval_docs, gen.CORPUS_STANDING,
        )

    def outputs(self, twins: bool) -> dict:
        """The last pass's verdicts and, with ``twins``, the batch refresh."""
        out = {"verdicts": self.last.toArrow()}
        if twins:
            out["twin"] = spark_queries()["corpus_refresh1"](self.spark, self.sf_dir).toArrow()
        return out


class CorpusIngest(_Corpus):
    """One pass: the standing corpus, then the arriving batches, through
    the ingest fold."""

    name = "corpus_ingest"
    layer = "streaming.ingest"
    with_standing = True

    def _fold(self, state):
        return run_corpus_ingest_stream(self.spark, self.docs_dir, self.schema, state)

    def outputs(self, twins: bool) -> dict:
        """The last pass's kept documents, every id the band index saw
        and, with ``twins``, the batch twin."""
        from enriched_crime_incident_data_pipeline_spark.streaming.corpus_ingest import batch_twin

        seen = self.spark.read.parquet(os.path.join(self.state_dir, "ingest_state"))
        out = {
            "seen": seen.filter(F.col("band_id").isNotNull()).select("doc_id").distinct().toArrow(),
            "kept": self.last.toArrow(),
        }
        if twins:
            out["twin"] = batch_twin(self.docs).toArrow()
        return out


WORKLOADS = {w.name: w for w in (Backfill, DailyReports, CorpusStream, CorpusIngest)}

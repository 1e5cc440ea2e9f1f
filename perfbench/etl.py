"""The ``etl_incremental`` workload: small loads of the three feeds,
round-robin, into a seeded SCD2 mart through the package's public
functions, plus the SCD2 output checks.

AT&T and AMAZON loads run the batch spine (every call is a span when
tracing): ``sources.read_*`` -> ``pipelines.*_transform`` ->
``operators.scd2.read_mart`` -> ``pipelines.run_load`` ->
``operators.scd2.write_mart``. UBER lands one XML-archive file per load
in a directory a file stream reads, and drains it with
``streaming.ingest.foreach_batch_scd2(..., reset=False)`` into its own
mart, with ``prepare`` = ``parse_xml_records`` + ``xml_transform``.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from pyspark_etl_project_spark.dims import (seed_agents, seed_customer_types,
                                            seed_support_areas)
from pyspark_etl_project_spark.operators.scd2 import KEY, read_mart, write_mart
from pyspark_etl_project_spark.pipelines.common import empty_mart, run_load
from pyspark_etl_project_spark.pipelines.csv_pipeline import csv_transform
from pyspark_etl_project_spark.pipelines.json_pipeline import json_transform
from pyspark_etl_project_spark.pipelines.xml_pipeline import xml_transform
from pyspark_etl_project_spark.schemas import ARCHIVE_SCHEMA
from pyspark_etl_project_spark.sources import (parse_xml_records,
                                               read_csv_tickets,
                                               read_json_interactions)
from pyspark_etl_project_spark.streaming.ingest import foreach_batch_scd2

import gen
from tracing import listing, listing_diff

# History rows per source, loads generated per source, records per load.
SIZES = {"history": 10000, "loads": 8, "records": 1000}
_TRANSFORM = {"att": csv_transform, "amazon": json_transform,
              "uber": xml_transform}


class IncrementalWorkload:
    """One closed-loop client: each load starts when the previous one
    has returned with the mart committed."""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.inputs = os.path.join(work, "inputs")
        self.mart = os.path.join(work, "mart")
        self.stream_mart = os.path.join(work, "uber_mart")
        self.stream_dir = os.path.join(work, "uber_landing")
        self.next_load = {s: 0 for s in gen.SOURCES}
        self.load_counter = 0
        self.ran: dict[str, list] = {s: [] for s in gen.SOURCES}
        self.fresh_rows: dict[str, dict] = {s: {} for s in gen.SOURCES}

    # --- set-up -----------------------------------------------------------

    def setup(self) -> None:
        self.truth = gen.generate_etl(self.inputs, self.seed, SIZES["history"],
                                      SIZES["loads"], SIZES["records"],
                                      gen.INCREMENTAL_MIX)
        spark = self.spark
        self.dims = {"agents": seed_agents(spark),
                     "support_areas": seed_support_areas(spark),
                     "customer_types": seed_customer_types(spark)}
        hist_ts = gen.run_ts(0)
        seeds = []
        for i, source in enumerate(gen.SOURCES):
            feed = self._feed(source, "history")
            staged = _TRANSFORM[source](self._read(source, feed["path"]),
                                        self.dims, 0)
            # Disjoint surrogate ranges: every source merges against the
            # same empty mart, whose MAX(CSD_ID) would give them all the
            # same offset.
            seed, _ = run_load(empty_mart(spark), staged, hist_ts,
                               source_id=gen.SOURCES[source],
                               surrogate_offset=i << 40)
            seeds.append(seed)
        write_mart(seeds[0].unionByName(seeds[1]), self.mart)
        # Untimed warm-up loads, checked like every other load: the JVM
        # compiles the incremental merge plan and the stream's
        # micro-batch path before timing starts. AMAZON shares the batch
        # spine with AT&T and skips it to save run time. The UBER
        # warm-up load is the call that seeds the stream's own mart
        # (history written with its own run_ts, then the landed file
        # merged), which saves one stream start and stop.
        os.makedirs(self.stream_dir)
        self.round(("att", "uber"), stream_seed=seeds[2])

    def _feed(self, source: str, which) -> dict:
        per = self.truth["sources"][source]
        t = per["history"] if which == "history" else per["loads"][which]
        return dict(t, path=os.path.join(self.inputs, t["file"]))

    # --- the package calls --------------------------------------------------

    def _read(self, source: str, path: str):
        if source == "att":
            return read_csv_tickets(self.spark, path)
        if source == "amazon":
            return read_json_interactions(self.spark, path)
        return parse_xml_records(self.spark.read.parquet(path))

    def _prepare(self, load_id: int):
        dims = self.dims

        def prepare(batch):
            return xml_transform(parse_xml_records(batch), dims, load_id)
        return prepare

    def _stream(self):
        return self.spark.readStream.schema(ARCHIVE_SCHEMA).parquet(self.stream_dir)

    def batch_load(self, source: str, feed: dict, load_id: int, ts: str) -> None:
        sid = gen.SOURCES[source]
        span = self.tracer.span
        with span("sources.read", source=source):
            raw = self._read(source, feed["path"])
        with span("pipelines.transform", source=source):
            staged = _TRANSFORM[source](raw, self.dims, load_id)
        with span("operators.read_mart", source=source):
            mart = read_mart(self.spark, self.mart)
        with span("pipelines.run_load", source=source):
            merged, _audit = run_load(mart, staged, ts, source_id=sid)
        with span("operators.write_mart", source=source):
            write_mart(merged, self.mart, touched_keys=staged.select(KEY),
                       source_id=sid, materialize_first=True)

    def stream_load(self, load_id: int, ts: str, seed=None) -> None:
        """Drain the landed file into the stream's mart; with ``seed``,
        first replace that mart with ``seed``."""
        with self.tracer.span("streaming.foreach_batch_scd2", source="uber"):
            foreach_batch_scd2(self._stream(), self.stream_mart,
                               empty_mart(self.spark) if seed is None else seed,
                               run_ts=ts, prepare=self._prepare(load_id),
                               reset=seed is not None)

    # --- timed operations ---------------------------------------------------

    def exhausted(self) -> bool:
        """True when another round would use the last generated feed,
        which the traced run keeps for its prefix timing."""
        return max(self.next_load.values()) + 1 >= SIZES["loads"]

    def round(self, sources=tuple(gen.SOURCES), stream_seed=None) -> list[dict]:
        """One load per source. Returns one record per load with its
        wall time, from feed landed to the load call returning.
        ``stream_seed`` seeds the stream's mart in the UBER load."""
        out = []
        for source in sources:
            j = self.next_load[source]
            self.next_load[source] += 1
            feed = self._feed(source, j)
            self.load_counter += 1
            ts = gen.run_ts(self.load_counter)
            tracing = self.tracer.enabled
            root = self.stream_mart if source == "uber" else self.mart
            before = listing(root) if tracing else None
            n_spans = len(self.tracer.spans)
            if source == "uber":
                shutil.copy(feed["path"], os.path.join(self.stream_dir,
                                                       f"load_{j:04d}.parquet"))
                t0 = time.perf_counter()
                self.stream_load(self.load_counter, ts, stream_seed)
            else:
                t0 = time.perf_counter()
                self.batch_load(source, feed, self.load_counter, ts)
            wall = time.perf_counter() - t0
            rec = {"source": source, "load": j, "ts": ts, "wall_s": wall,
                   "records": feed["records"], "feed_bytes": feed["bytes"],
                   "traced": tracing, "spans": (n_spans, len(self.tracer.spans))}
            if tracing:
                rec["written"] = listing_diff(before, listing(root))
            self.ran[source].append(rec)
            out.append(rec)
        return out

    # --- traced-run-only measurements ----------------------------------------

    def traced_extras(self) -> dict:
        """Made after the timed loop and the checks: the stream's fixed
        cost (an empty drain), the prefix times and the staged row
        counts behind the CDC duplicate share."""
        lists: dict[str, list] = {}
        for source in gen.SOURCES:
            for rec in self.ran[source]:
                if rec["traced"]:
                    feed = self._feed(source, rec["load"])
                    staged = _TRANSFORM[source](self._read(source, feed["path"]),
                                                self.dims, 0).count()
                    fresh = self.fresh_rows[source].get(rec["ts"], 0)
                    lists.setdefault(f"pipelines.cdc_duplicate_share.{source}",
                                     []).append(1 - fresh / staged)
            p = self.prefix_times(source)
            lists[f"sources.scan_self_s.{source}"] = [p["scan"]]
            lists[f"pipelines.transform_self_s.{source}"] = [p["transform"] - p["scan"]]
            lists[f"pipelines.merge_self_s.{source}"] = [p["merge"] - p["transform"]]
        lists["streaming.empty_drain_s"] = [self.empty_drain() for _ in range(2)]
        return {"lists": lists}

    def empty_drain(self) -> float:
        """The streaming load call with no new file: the fixed cost of
        stream start and stop."""
        t0 = time.perf_counter()
        foreach_batch_scd2(self._stream(), self.stream_mart,
                           empty_mart(self.spark), run_ts=gen.run_ts(10 ** 6),
                           prepare=self._prepare(0), reset=False)
        return time.perf_counter() - t0

    def prefix_times(self, source: str) -> dict:
        """Materialize to noop the output of the source read, of the
        transform and of ``run_load`` (the merged mart) for the next,
        not yet loaded feed of ``source``. Spark runs one fused plan
        inside ``write_mart``; consecutive differences of these prefixes
        are the layers' self times inside it. Read-only."""
        sid = gen.SOURCES[source]

        def noop(df) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        feed = self._feed(source, self.next_load[source])
        raw = self._read(source, feed["path"])
        scan = noop(raw)
        staged = _TRANSFORM[source](raw, self.dims, 0)
        transform = noop(staged)
        mart = read_mart(self.spark, self.stream_mart if source == "uber" else self.mart)
        merged, _ = run_load(mart, staged, gen.run_ts(10 ** 6), source_id=sid)
        merge = noop(merged.filter(F.col("SOURCE_ID") == sid))
        return {"scan": scan, "transform": transform, "merge": merge}

    # --- output checks ------------------------------------------------------

    def check(self) -> list[tuple[str, bool, str]]:
        """Every check is (name, passed, detail); the marts are read back
        after the timed loop."""
        results = []
        for source in gen.SOURCES:
            if source == "uber":
                mart = read_mart(self.spark, self.stream_mart)
            else:
                mart = read_mart(self.spark, self.mart).filter(
                    F.col("SOURCE_ID") == gen.SOURCES[source])
            per = self.truth["sources"][source]
            loads = [(gen.run_ts(0), per["history"])] + [
                (r["ts"], per["loads"][r["load"]]) for r in self.ran[source]]
            checks, self.fresh_rows[source] = check_mart(mart, loads, source)
            results += checks
        return results


def check_mart(mart, loads: list[tuple[str, dict]], label: str):
    """SCD2 output checks of one source's mart slice against the planted
    truth of the loads it received, in order: ``[(run_ts, truth)]``.
    Returns the checks and the fresh row count of each run_ts."""
    out = []
    mart = mart.select(KEY, "ACTIVE_FLAG", "IS_VALID_DATA",
                       F.date_format("START_DATE", "yyyy-MM-dd HH:mm:ss").alias("s"),
                       F.date_format("END_DATE", "yyyy-MM-dd HH:mm:ss").alias("e"))
    mart = mart.localCheckpoint(eager=True)
    bad_active = (mart.groupBy(KEY)
                  .agg(F.sum(F.when(F.col("ACTIVE_FLAG") == 1, 1).otherwise(0)).alias("n"))
                  .filter(F.col("n") != 1).count())
    out.append((f"{label}.one_active_per_key", bad_active == 0,
                f"{bad_active} keys without exactly one active row"))
    active = mart.filter(F.col("ACTIVE_FLAG") == 1).count()
    want = loads[-1][1]["active_keys"]
    out.append((f"{label}.active_rows", active == want,
                f"{active} active rows, {want} distinct keys delivered"))
    starts = {r["s"]: (r["n"], r["bad"]) for r in mart.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("IS_VALID_DATA") == 0, 1).otherwise(0)).alias("bad")
    ).collect()}
    ends = {r["e"]: r["n"] for r in mart.filter(F.col("ACTIVE_FLAG") == 0)
            .groupBy("e").agg(F.count(F.lit(1)).alias("n")).collect()}
    for ts, t in loads:
        fresh, bad = starts.get(ts, (0, 0))
        want_fresh = t["insert"] + t["update"]
        out.append((f"{label}.fresh@{ts}",
                    fresh == want_fresh and bad == t["invalid_fresh"],
                    f"fresh {fresh} (want {want_fresh}), invalid {bad} "
                    f"(want {t['invalid_fresh']})"))
        expired = ends.get(ts, 0)
        out.append((f"{label}.expired@{ts}", expired == t["update"],
                    f"expired {expired} (want {t['update']})"))
    w = Window.partitionBy(KEY).orderBy("s")
    broken = (mart.withColumn("next_s", F.lead("s").over(w))
              .filter(((F.col("ACTIVE_FLAG") == 0)
                       & ~F.col("e").eqNullSafe(F.col("next_s")))
                      | ((F.col("ACTIVE_FLAG") == 1) & F.col("next_s").isNotNull()))
              .count())
    out.append((f"{label}.expiry_chain", broken == 0,
                f"{broken} versions whose END_DATE is not the successor's START_DATE"))
    return out, {ts: n for ts, (n, _bad) in starts.items()}

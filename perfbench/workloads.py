"""The benchmark's workloads, each driven through the program's public
entry points from this one process.

A workload has ``setup`` (staging, counted in ``setup_s``), ``op(i)``
(one closed-loop operation),
``round_size`` (operations per balanced round of its mix), ``max_ops``
(how many operations its inputs allow, or None), ``check``
(correctness of everything the ops produced) and, for the traced run,
``install_shims``, the ``counts``/``sink_stats`` the shims fill and
``layer_stats`` (the workload's own per-layer numbers, taken after the
last operation).
"""

from __future__ import annotations

import math
import os
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import date, datetime
from decimal import Decimal

from perfbench import gen

FLOW_ITEMS = 4000
TICK_SHARE = 0.01
MEDIA_BASE_DOCS = 48
MEDIA_DELTA_DOCS = 12
MEDIA_MAX_TICKS = 16  # delta slices drawn per seed
MEDIA_MODALITY = {"image": 0, "video": 1, "audio": 2}  # node = 3 * doc_id + m
DASHBOARD_ORDERS = 15000  # the registered sf0.01 orders count
DASHBOARD_QUERIES = (
    "cfd",
    "lead_time_by_priority",
    "throughput_weekly",
    "arrival_quantiles",
    "class_of_service_share",
    "profile_of_work",
    "wip_as_of",
    "flow_debt",
    "insights_metrics_single_pass",
    "flow_efficiency",
    "threshold_forecast",
    "throughput_rollup_grains",
)
WIP_AS_OF = "1998-06-01"


def _walk_files(path: str):
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                yield dirpath, st.st_size, st.st_mtime


class FlowTick:
    """The backfill staged in setup; each op is one 1% delta tick:
    append to bronze, incremental batch into the states and snapshots
    sinks, gold refresh off the merged tables."""

    name = "flow_tick"
    round_size = 1
    max_ops = None

    def __init__(self, spark, root: str, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.bronze = os.path.join(root, "bronze")
        self.states = os.path.join(root, "sinks", "states")
        self.snaps = os.path.join(root, "sinks", "snapshots")
        self.cursors = os.path.join(root, "cursors")
        self.counts: dict[str, float] = {}
        self.sink_stats: list[dict] = []

    # -- the composition under test ------------------------------------
    def _silver(self, histories):
        from pyspark.sql import functions as F

        from falcon_metrics_etl_spark.operators.event_dates import (
            extract_event_dates_expr,
        )
        from falcon_metrics_etl_spark.operators.revisions import dedupe_consecutive

        deduped = dedupe_consecutive(
            histories, "zone", order_cols=("changed_date", "revision")
        )
        return F, deduped, extract_event_dates_expr(deduped)

    def states_of(self, histories):
        F, deduped, event_dates = self._silver(histories)
        org = deduped.groupBy("work_item_id").agg(F.first("org_id").alias("org_id"))
        return (
            event_dates.join(org, "work_item_id")
            .withColumn("partition_key", F.concat_ws("#", F.lit("state"), F.col("org_id")))
            .withColumn("sort_key", F.concat_ws("#", F.lit("ds1"), F.col("work_item_id")))
        )

    def snapshots_of(self, histories):
        from falcon_metrics_etl_spark.operators.snapshots import derive_snapshots

        F, deduped, event_dates = self._silver(histories)
        return (
            derive_snapshots(deduped, event_dates)
            .withColumn("partition_key", F.concat_ws("#", F.lit("snapshot"), F.col("org_id")))
            .withColumn("snapshot_month", F.date_format("snapshot_date", "yyyy-MM"))
        )

    def _transform(self, fn):
        """``fn`` as handed to the incremental runner. Traced, it runs
        eagerly inside its own span (so its cost is not billed to the
        merge that would otherwise trigger it) and counts its rows."""
        tr = self.tracer
        if not tr.active:
            return fn

        def traced(histories):
            with tr.span("operators.transform"):
                self.counts["history_rows"] += histories.count()
                out = fn(histories).localCheckpoint(eager=True)
                self.counts["rows_changed"] += out.count()
            return out

        return traced

    def _sinks(self):
        from falcon_metrics_etl_spark.sinks.merge import SNAPSHOT_KEYS, STATE_KEYS

        return (
            ("states", self.states_of, self.states, STATE_KEYS, ("org_id",)),
            ("snapshots", self.snapshots_of, self.snaps, SNAPSHOT_KEYS,
             ("org_id", "snapshot_month")),
        )

    def _batch(self, bronze, tag, fn, path, keys, parts):
        from falcon_metrics_etl_spark.streaming.incremental import run_incremental_batch

        run_incremental_batch(
            self.spark, bronze, self._transform(fn), path, keys,
            os.path.join(self.cursors, tag), partition_cols=parts,
        )

    def _refresh(self):
        bronze = self.spark.read.parquet(self.bronze)
        for sink in self._sinks():
            tag, path = sink[0], sink[2]
            with self.tracer.span(f"streaming.run_incremental_batch.{tag}") as s:
                self._batch(bronze, *sink)
            if s is not None:
                self.sink_stats.append(self._sink_stat(path, s.start))
        with self.tracer.span("operators.gold_refresh"):
            self.gold()

    def gold(self):
        """Per-org lead time, WIP and throughput off the merged states."""
        from falcon_metrics_etl_spark.operators.metrics import (
            lead_time_metrics,
            throughput,
            wip_as_of,
        )

        states = self.spark.read.parquet(self.states)
        out = []
        for df in (
            lead_time_metrics(states, ["org_id"]),
            wip_as_of(states, WIP_AS_OF, ["org_id"]),
            throughput(states, ["org_id"]),
        ):
            with self.tracer.span("plans.planning") as s:
                if s is not None:
                    df._jdf.queryExecution().executedPlan()
            out.append(df.collect())
        return out

    # -- benchmark protocol --------------------------------------------
    def setup(self):
        """The backfill: the full history into the empty sinks, the two
        sinks' batches side by side (they are independent). No warm-up
        tick: the backfill plans and compiles nearly all of a tick, and a
        run's first tick, on the merge path, is within a few percent of
        its later ones."""
        _, lineitem = gen.flow_tables(self.seed, FLOW_ITEMS)
        base = gen.bronze_revisions(lineitem)
        gen.write_parquet(base, os.path.join(self.bronze, "base.parquet"))
        self.base_max = base["updated"].max().to_datetime64()
        bronze = self.spark.read.parquet(self.bronze)
        with ThreadPoolExecutor(2) as pool:
            for f in [pool.submit(self._batch, bronze, *s) for s in self._sinks()]:
                f.result()

    def _tick(self, k: int) -> None:
        delta = gen.tick_delta(self.seed, k, FLOW_ITEMS, TICK_SHARE, self.base_max)
        with self.tracer.span("bench.append_bronze"):
            gen.write_parquet(delta, os.path.join(self.bronze, f"tick-{k:05d}.parquet"))
        if self.tracer.active:
            self.counts["delta_rows"] += len(delta)
        self._refresh()

    def op(self, i: int) -> None:
        self._tick(i)

    def check(self) -> list[str]:
        """Both sinks equal a direct batch composition over base plus
        every delta."""
        bronze = self.spark.read.parquet(self.bronze)
        sinks = {"states": (self.states_of, self.states),
                 "snapshots": (self.snapshots_of, self.snaps)}
        with ThreadPoolExecutor(len(sinks)) as pool:
            same = pool.map(
                lambda fn_path: frames_equal(
                    fn_path[0](bronze), self.spark.read.parquet(fn_path[1])
                ),
                sinks.values(),
            )
            return [name for name, ok in zip(sinks, list(same)) if not ok]

    # -- tracing -------------------------------------------------------
    def install_shims(self, tracer):
        from falcon_metrics_etl_spark.streaming import incremental

        tracer.shim(incremental, "merge_upsert", "sinks.merge_upsert")
        tracer.shim(incremental, "load_cursor", "streaming.cursor")
        tracer.shim(incremental, "advance_cursor", "streaming.cursor")
        for k in ("history_rows", "rows_changed", "delta_rows"):
            self.counts.setdefault(k, 0.0)

    def layer_stats(self) -> dict:
        return {}

    def _sink_stat(self, path: str, since: float) -> dict:
        files = list(_walk_files(path))
        fresh = [f for f in files if f[2] >= since]
        return {
            "files_written": len(fresh),
            "partitions_rewritten": len({f[0] for f in fresh}),
            "partitions_total": len({f[0] for f in files}),
            "live_files": len(files),
            "live_bytes": sum(f[1] for f in files),
        }


class FlowDashboard:
    """Read-only: a seeded shuffle of the registered, oracled flow
    queries over the generated tables, each materialized with noop."""

    name = "flow_dashboard"
    # a round is the mix twice: at ~0.5 s a query, 24 queries outlast the
    # run's --seconds, so every run measures the same number of queries
    round_size = 2 * len(DASHBOARD_QUERIES)
    max_ops = None

    def __init__(self, spark, root: str, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.sf_dir = os.path.join(root, "tables")
        self.order = gen.shuffled(seed, DASHBOARD_QUERIES, rounds=200)
        self.ran: list[str] = []
        self.sink_stats: list[dict] = []
        self.counts: dict[str, float] = {}

    def _queries(self):
        from falcon_metrics_etl_spark.plans.registry import all_queries

        return all_queries()

    def setup(self):
        gen.write_flow_tables(self.seed, DASHBOARD_ORDERS, self.sf_dir)
        qs = self._queries()
        for name in DASHBOARD_QUERIES:  # warm pass
            qs[name].spark(self.spark, self.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()

    def op(self, i: int) -> None:
        name = self.order[i % len(self.order)]
        self.ran.append(name)
        df = self._queries()[name].spark(self.spark, self.sf_dir)
        with self.tracer.span("plans.planning") as s:
            if s is not None:
                df._jdf.queryExecution().executedPlan()
        df.write.format("noop").mode("overwrite").save()

    def check(self) -> list[str]:
        """Every query that ran hash-matches its DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        for t in ("orders", "lineitem"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.sf_dir, t + '.parquet')}'"
            )
        qs = self._queries()
        names = sorted(set(self.ran))

        def spark_result(name):
            sdf = qs[name].spark(self.spark, self.sf_dir)
            return multiset(sdf.columns, sdf.collect())

        with ThreadPoolExecutor(4) as pool:
            got = list(pool.map(spark_result, names))
        bad = []
        for name, result in zip(names, got):
            res = con.execute(qs[name].oracle)
            if result != multiset([d[0] for d in res.description], res.fetchall()):
                bad.append(name)
        con.close()
        return bad

    def install_shims(self, tracer):
        pass

    def layer_stats(self) -> dict:
        return {}


class MediaTick:
    """The trimodal (image, video, audio) near-duplicate state staged
    from a seeded base slice of documents; each op is one
    ``trimodal_ingest_tick`` over the next distinct seeded delta slice,
    with the tick's default in-cadence maintenance on."""

    name = "media_tick"
    round_size = 1
    max_ops = MEDIA_MAX_TICKS

    def __init__(self, spark, root: str, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.state = os.path.join(root, "media_state")
        self.base, self.deltas = gen.media_slices(
            seed, MEDIA_BASE_DOCS, MEDIA_DELTA_DOCS, MEDIA_MAX_TICKS
        )
        self.done: list[int] = []  # delta docs ticked so far
        self.counts: dict[str, float] = {}
        self.sink_stats: list[dict] = []

    def _docs(self, ids):
        return self.spark.createDataFrame([(int(i),) for i in ids], "doc_id long")

    def setup(self):
        """Stage the base. No warm-up tick: staging plans and compiles
        most of a tick, and a run's first tick is within about a tenth
        of its later ones."""
        from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
            stage_trimodal_state,
        )

        stage_trimodal_state(
            self.spark, self._docs(self.base), self.state, batch_id=0
        )

    def op(self, i: int) -> None:
        from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
            trimodal_ingest_tick,
        )

        trimodal_ingest_tick(
            self.spark, self._docs(self.deltas[i]), self.state, batch_id=i + 1
        )
        self.done.extend(self.deltas[i])

    def check(self) -> list[str]:
        """Every node's keeper equals the batch trimodal closure over
        the base and every ticked delta, as computed by the closure's
        registered DuckDB oracle (the oracle of the delta twin
        ``cross_modal_trimodal_delta``) over those documents."""
        import duckdb

        from falcon_metrics_etl_spark.plans.registry import all_queries
        from falcon_metrics_etl_spark.state import read_state

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT CAST(unnest(?) AS BIGINT) AS doc_id",
            [self.base + self.done],
        )
        res = con.execute(all_queries()["cross_modal_trimodal_delta"].oracle)
        cols = [d[0] for d in res.description]
        expect = {}
        for row in res.fetchall():
            r = dict(zip(cols, row))
            node = 3 * r["doc_id"] + MEDIA_MODALITY[r["modality"]]
            expect[node] = 3 * r["keep_doc"] + MEDIA_MODALITY[r["keep_modality"]]
        con.close()
        got = {}
        for sub in ("cm3_image_index", "cm3_frame_index", "cm3_audio_index"):
            for row in (
                read_state(self.spark, os.path.join(self.state, sub))
                .select("node", "keep_node").distinct().collect()
            ):
                got[row["node"]] = row["keep_node"]
        return [] if got == expect else ["keep set"]

    # -- tracing -------------------------------------------------------
    def install_shims(self, tracer):
        from falcon_metrics_etl_spark import state
        from falcon_metrics_etl_spark.streaming import cross_modal_tick

        # merge_state publishes through state.overwrite_state
        tracer.shim(state, "overwrite_state", "state.publish")
        tracer.shim(cross_modal_tick, "overwrite_state", "state.publish")
        tracer.shim(cross_modal_tick, "merge_state", "state.merge_state")
        tracer.shim(cross_modal_tick, "maintain_state_dir", "state.maintenance")

    def layer_stats(self) -> dict:
        """State footprint after the last tick, and the codecs' own
        decode time on the processed delta docs, called directly."""
        from falcon_metrics_etl_spark import state
        from falcon_metrics_etl_spark.functions import multimodal as MM
        from falcon_metrics_etl_spark.functions.jpeg import decode_jpeg_gray

        live_files = live_bytes = retired = 0
        for sub in sorted(os.listdir(self.state)):
            table = os.path.join(self.state, sub)
            if not os.path.isdir(table) or sub.startswith(("_", ".")):
                continue
            for _, size, _ in _walk_files(state.resolve_state_path(table)):
                live_files += 1
                live_bytes += size
            retired += sum(
                os.path.exists(os.path.join(table, v, state.RETIRED_MARKER))
                for v in os.listdir(table)
            )

        d = self._docs(self.done)
        decode = (
            (MM.attach_payload_keyframe_thumbs(d), lambda c, p: (
                MM.decode_png_pixels(p) if c == "png" else decode_jpeg_gray(p))),
            (MM.attach_payload_video_clips(d), lambda c, p: MM.decode_y4m_frames(p)),
            (MM.attach_payload_audio_clips(d), lambda c, p: MM.decode_wav_samples_np(p)),
            (MM.attach_payload_soundtrack_wavs(d),
             lambda c, p: MM.decode_wav_samples_np(p)),
        )
        decode_s = 0.0
        for media, fn in decode:
            for row in media.select("codec", "payload").collect():
                payload = bytes(row["payload"])
                t = time.perf_counter()
                fn(row["codec"], payload)
                decode_s += time.perf_counter() - t
        return {
            "state_live_files": (live_files, "count"),
            "state_live_bytes": (live_bytes, "bytes"),
            "retired_dirs": (retired, "count"),
            "decode_ms_per_doc": (1000.0 * decode_s / max(1, len(self.done)), "ms"),
        }


WORKLOADS = {w.name: w for w in (FlowTick, FlowDashboard, MediaTick)}


# -- comparison helpers ---------------------------------------------------
def frames_equal(a, b) -> bool:
    """Same columns and the same multiset of rows, every value compared
    as its string form (partition columns read back from a hive layout
    change type, not value)."""
    from pyspark.sql import functions as F

    cols = sorted(a.columns)
    if cols != sorted(b.columns):
        return False
    a = a.select(*[F.col(c).cast("string").alias(c) for c in cols])
    b = b.select(*[F.col(c).cast("string").alias(c) for c in cols])
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def norm_value(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0.0" if v == 0.0 else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_value(x) for x in v) + "]"
    return str(v)


def multiset(cols, rows) -> tuple:
    """Order-insensitive fingerprint of a result: sorted column names
    and the sorted rows with values normalized across engines."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        [cols[i] for i in order],
        sorted("|".join(norm_value(r[i]) for i in order) for r in rows),
    )

"""The benchmark's workloads.

``ingest``    the publish pipeline through the REST surface: radcor start,
              the simulated download+correction pipeline with its publish
              MERGE, the attempt log, and a read-after-write status poll.
``analytics`` registry queries over seeded TPC-H-like tables, each
              materialized through the ``noop`` sink.

Each runs one closed-loop client: a fixed amount of untimed warm-up, then
timed operations until the requested seconds have passed (at least one).
``ingest`` takes its batch order from the seed, balanced in blocks (every
batch kind once per block); ``analytics`` keeps one query order and takes
its tables from the seed. Output checks run outside the timed region; a
failed check fails its operation.
"""

from __future__ import annotations

import datetime as dt
import io
import itertools
import json
import os
import random
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

from stats import geomean
from tracing import Tracer, op_group


def op_sequence(kinds: list, seed: int, n_blocks: int) -> list:
    """``n_blocks`` seeded permutations of ``kinds``, concatenated: any
    whole block holds every kind exactly once."""
    rng = random.Random(seed)
    out = []
    for _ in range(n_blocks):
        block = list(kinds)
        rng.shuffle(block)
        out.extend(block)
    return out


@dataclass
class Outcome:
    """What a workload hands back to the runner."""
    setup_s: float
    warmup_s: float
    #: timed latencies per operation kind (a batch step, or a query)
    kind_ms: dict[str, list[float]]
    work_units: float
    timed_wall_s: float
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    trace_extra: dict = field(default_factory=dict)
    #: per-kind timings, reported on stderr
    detail: dict = field(default_factory=dict)

    def end_to_end(self) -> dict[str, float]:
        # each kind's median over its timed repetitions
        mid = [statistics.median(v) for v in self.kind_ms.values() if v]
        return {
            "setup_s": self.setup_s,
            "op_geomean_ms": geomean(mid),
            "suite_s": sum(mid) / 1000.0,
            "throughput_per_s": self.work_units / self.timed_wall_s,
        }


def _set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


# -- ingest ------------------------------------------------------------

N_SCENES = 2000                  # make_fixtures catalog: 2 000 scenes,
N_TILES = 12                     # on 12 tiles, over 90 days
N_DAYS = 90
EPOCH = dt.datetime(2024, 1, 1)  # the fixtures' first sensing day
WINDOW_DAYS = 30                 # a batch is one tile and one 30-day window
INGEST_WARMUP_OPS = 1            # batches after the priming one
INGEST_MIN_TIMED_OPS = 1
COLLECTION_ID = 1
DATASET = "S2MSI2A"
STAGES = ("download", "publish", "post")   # radcor start's activity chain
PIXELS_PER_SCENE = 64            # the post stage's 8 x 8 grid
CATALOG_TABLES = ("collections", "bands", "providers", "collection_providers",
                  "tiles", "items", "activities", "activity_history", "tasks",
                  "activity_src")


def _day(n: int) -> str:
    return (EPOCH + dt.timedelta(days=n)).date().isoformat()


@dataclass
class IngestModel:
    """What the catalog must answer, computed in plain Python from the
    fixture rows."""
    #: batch kind -> {tile, start, end, scenes}
    batches: dict[str, dict]
    #: every scene a batch may dispatch: the priming batch's scenes
    all_scenes: frozenset
    #: activities once the priming batch has dispatched every scene
    n_activities: int
    #: (name, collection_id) of the fixture items
    item_keys: frozenset
    #: the count-activities histogram of the collection before any batch
    poll_base: dict[str, int]


def ingest_model(rows: dict[str, list]) -> IngestModel:
    """Batches and expected answers from the collected fixture rows.

    A batch kind is one tile of the collection and one ``WINDOW_DAYS``
    window: every provider scene of the dataset sensed there (about 65).
    The priming batch covers all of them at once and does the only
    first-time writes (new activities, new items); after it every batch
    re-dispatches and re-publishes known scenes, so ``activities`` and
    ``items`` keep their size. Which scenes publish is the simulated
    providers' and processors' choice, so the priming batch's published
    set is the reference for every later batch. Each batch then records
    one attempt per activity of its published scenes, which the status
    poll must show."""
    tile_name = {r["id"]: r["name"] for r in rows["tiles"]}
    tiles = sorted({tile_name[r["tile_id"]] for r in rows["items"]
                    if r["collection_id"] == COLLECTION_ID})
    batches = {}
    for tile in tiles:
        for w in range(N_DAYS // WINDOW_DAYS):
            lo, hi = w * WINDOW_DAYS, (w + 1) * WINDOW_DAYS
            scenes = frozenset(
                r["scene_id"] for r in rows["scenes_remote"]
                if r["dataset"] == DATASET and r["tile"] == tile
                and EPOCH + dt.timedelta(days=lo) <= r["sensing_date"]
                < EPOCH + dt.timedelta(days=hi))
            batches[f"{tile}#{w}"] = {"tile": tile, "start": _day(lo),
                                      "end": _day(hi), "scenes": scenes}
    all_scenes = frozenset().union(*(b["scenes"] for b in batches.values()))
    acts = {(r["collection_id"], r["activity_type"], r["sceneid"])
            for r in rows["activities"]}
    acts |= {(COLLECTION_ID, stage, s) for s in all_scenes for stage in STAGES}
    in_collection = {r["id"] for r in rows["activities"]
                     if r["collection_id"] == COLLECTION_ID}
    status = {r["id"]: r["status"] for r in rows["tasks"]}
    poll = Counter(status[r["task_id"]] for r in rows["activity_history"]
                   if r["activity_id"] in in_collection)
    return IngestModel(batches=batches, all_scenes=all_scenes,
                       n_activities=len(acts),
                       item_keys=frozenset((r["name"], r["collection_id"])
                                           for r in rows["items"]),
                       poll_base=dict(poll))


def _wsgi(app, tracer: Tracer, method: str, path: str, query: str = "",
          body: dict | None = None) -> tuple[int, object]:
    raw = json.dumps(body).encode() if body is not None else b""
    environ = {"REQUEST_METHOD": method, "PATH_INFO": path,
               "QUERY_STRING": query, "CONTENT_LENGTH": str(len(raw)),
               "wsgi.input": io.BytesIO(raw)}
    status = {}
    with tracer.span("webapi.request", path=path) as sp:
        payload = b"".join(app(environ, lambda s, _h: status.update(s=s)))
    if sp is not None:
        sp.data["bytes"] = len(payload)
    return int(status["s"].split()[0]), json.loads(payload)


def run_ingest(spark, run_dir: str, seed: int, seconds: float,
               tracer: Tracer, boot_s: float) -> Outcome:
    from pyspark.sql import functions as F

    from bdc_collection_builder_spark.catalog.fixtures import make_fixtures
    from bdc_collection_builder_spark.catalog.store import CatalogStore
    from bdc_collection_builder_spark.engine import CollectionBuilderEngine
    from bdc_collection_builder_spark.pipeline.ledger import record_attempts
    from bdc_collection_builder_spark.pipeline.radcor import RadcorQuery
    from bdc_collection_builder_spark.webapi import create_app

    t0 = time.perf_counter()
    _set_group(spark, "setup")
    fixtures = make_fixtures(spark, n_scenes=N_SCENES, n_tiles=N_TILES)
    store = CatalogStore(spark, os.path.join(run_dir, "store"))
    for table in CATALOG_TABLES:
        store.overwrite(table, fixtures[table])
    engine = CollectionBuilderEngine(spark, store,
                                     remote=fixtures["scenes_remote"])
    app = create_app(engine)
    setup_s = boot_s + time.perf_counter() - t0

    # the checker's model, from the fixture rows (local data, no job)
    model = ingest_model({name: fixtures[name].collect() for name in (
        "tiles", "items", "activities", "activity_history", "tasks",
        "scenes_remote")})
    prime = {"tile": None, "start": _day(0), "end": _day(N_DAYS),
             "scenes": model.all_scenes,
             "tiles": sorted({b["tile"] for b in model.batches.values()})}
    n_blocks = 1 + (INGEST_WARMUP_OPS + 64) // len(model.batches)
    sequence = ["prime"] + op_sequence(sorted(model.batches), seed, n_blocks)
    n_warmup = 1 + INGEST_WARMUP_OPS

    last_publish: dict[str, float] = {}
    publishable: frozenset = frozenset()
    recorded = 0
    steps: dict[str, list[float]] = {"dispatch": [], "pipeline": [],
                                     "record": [], "poll": []}
    warmup_ms: list[float] = []
    errors: list[str] = []
    attempted = failed = 0
    scenes_published = scenes_dispatched = 0
    warmup_s = 0.0
    timed_start = None

    for op_id, kind in enumerate(sequence):
        timed = op_id >= n_warmup
        if timed and timed_start is None:
            timed_start = time.perf_counter()
        if (timed and op_id - n_warmup >= INGEST_MIN_TIMED_OPS
                and time.perf_counter() - timed_start >= seconds):
            break
        batch = prime if kind == "prime" else model.batches[kind]
        tiles = batch.get("tiles") or [batch["tile"]]
        body = {"action": "start", "collection_id": COLLECTION_ID,
                "satsen": DATASET, "start": batch["start"],
                "end": batch["end"], "tiles": ",".join(tiles),
                "force": True}
        query = RadcorQuery(collection_id=COLLECTION_ID, dataset=DATASET,
                            start_date=batch["start"], end_date=batch["end"],
                            tiles=tiles, force=True)
        attempted += 1
        problems: list[str] = []
        started_at = time.time()
        _set_group(spark, op_group(op_id))
        op_start = time.perf_counter()
        try:
            with tracer.operation(op_id, "batch", timed):
                a = time.perf_counter()
                code, reply = _wsgi(app, tracer, "POST", "/api/radcor",
                                    body=body)
                b = time.perf_counter()
                with tracer.span("pipeline.run"):
                    out = engine.run_pipeline(
                        engine.radcor_preview(query)).collect()
                c = time.perf_counter()
                names = sorted({r["scene_id"] for r in out})
                with tracer.span("pipeline.record"):
                    record_attempts(store, store.read("activities").filter(
                        (F.col("collection_id") == COLLECTION_ID)
                        & F.col("sceneid").isin(*names)).select(
                        F.col("id").alias("activity_id"),
                        F.lit("SUCCESS").alias("status"),
                        F.current_timestamp().alias("ts")))
                d = time.perf_counter()
                poll_code, poll = _wsgi(app, tracer, "GET",
                                        "/api/utils/count-activities",
                                        query=f"collection={COLLECTION_ID}")
                e = time.perf_counter()
        except Exception as exc:  # counted as a failed operation
            problems.append(f"{type(exc).__name__}: {exc}")
        else:
            if code != 200 or reply.get("Results") != model.n_activities:
                problems.append(f"radcor start: HTTP {code}, Results "
                                f"{reply.get('Results')} != {model.n_activities}")
            if kind == "prime":
                publishable = frozenset(names)
            if (not set(names) <= batch["scenes"]
                    or set(names) != publishable & batch["scenes"]):
                problems.append(f"published {len(names)} scenes of "
                                f"{len(batch['scenes'])}, not the ones the "
                                f"priming batch published")
            if any(r["n_pixels"] != PIXELS_PER_SCENE for r in out):
                problems.append("post stage: wrong pixel count")
            recorded += len(STAGES) * len(names)
            want = dict(model.poll_base)
            want["SUCCESS"] = want.get("SUCCESS", 0) + recorded
            got = ({r["status"]: r["n"] for r in poll}
                   if poll_code == 200 else None)
            if got != want:
                problems.append(f"poll does not show this batch: {got} != {want}")
            for name in names:
                last_publish[name] = started_at
            if timed:
                steps["dispatch"].append((b - a) * 1000.0)
                steps["pipeline"].append((c - b) * 1000.0)
                steps["record"].append((d - c) * 1000.0)
                steps["poll"].append((e - d) * 1000.0)
                scenes_published += len(names)
                scenes_dispatched += len(batch["scenes"])
        if not timed:
            warmup_ms.append(round((time.perf_counter() - op_start) * 1000.0))
            warmup_s += warmup_ms[-1] / 1000.0
        if problems:
            failed += 1
            errors.extend(f"op {op_id} ({kind}): {p}" for p in problems)
    checks_start = time.perf_counter()
    timed_wall = checks_start - timed_start
    _set_group(spark, "checks")

    # End-of-run checks: one item per key, nothing grew. A failure here
    # fails every batch, as any of them may have written the bad state.
    end_errors = []
    items = store.read("items").select("name", "collection_id",
                                       "updated").collect()
    keys = Counter((r["name"], r["collection_id"]) for r in items)
    want_keys = model.item_keys | {(s, COLLECTION_ID) for s in publishable}
    if set(keys) != want_keys or max(keys.values()) != 1:
        end_errors.append(f"items: {len(items)} rows, {len(keys)} keys, "
                          f"expected {len(want_keys)} unique")
    updated = {r["name"]: r["updated"] for r in items
               if r["collection_id"] == COLLECTION_ID}
    stale = [n for n, at in last_publish.items()
             if updated.get(n) is None or updated[n] < dt.datetime.fromtimestamp(
                 at - 1.0, dt.timezone.utc).replace(tzinfo=None)]
    if stale:
        end_errors.append(
            f"items not rewritten by their last batch: {stale[:3]}")
    n_acts = store.read("activities").count()
    n_keys = store.read("activities").select(
        "collection_id", "activity_type", "sceneid").distinct().count()
    if n_acts != model.n_activities or n_keys != n_acts:
        end_errors.append(f"activities grew: {n_acts} rows / {n_keys} keys, "
                          f"expected {model.n_activities}")
    if end_errors:
        failed = attempted
        errors.extend(end_errors)
    extra = {}
    if tracer.enabled:
        extra = {
            "scenes_published": scenes_published,
            "scenes_dispatched": scenes_dispatched,
            "generations_retained": sum(len(store.snapshots(t))
                                        for t in CATALOG_TABLES),
        }
    return Outcome(setup_s=setup_s, warmup_s=warmup_s, kind_ms=steps,
                   work_units=scenes_published, timed_wall_s=timed_wall,
                   attempted=attempted, failed=failed, errors=errors,
                   trace_extra=extra,
                   detail={"warmup_ms": warmup_ms, "step_ms": steps,
                           "checks_s": round(time.perf_counter()
                                             - checks_start, 1)})


# -- analytics ---------------------------------------------------------

#: the analytics subset of the frozen-v2-65 suite, by what it exercises
ANALYTICS_QUERIES = [
    "q1_pricing_summary",            # aggregates
    "y05_session_window",            # windows
    "tj_asof_purchase_attribution",  # as-of join
    "ss_brute_force_topk",           # ANN
    "tx_text_stats",                 # text
    "px_x9_band_expression_ndvi",    # band expression
    "mm_audio_silence_trim",         # Python boundary
    "gr_pagerank",                   # iterative, eager barriers
]
ANALYTICS_SF = 0.1
ANALYTICS_WARMUP_PASSES = 1
ANALYTICS_MIN_TIMED_PASSES = 2


def run_analytics(spark, run_dir: str, seed: int, seconds: float,
                  tracer: Tracer, boot_s: float) -> Outcome:
    import datagen
    import duckdb

    from bdc_collection_builder_spark.compare import strict_mismatch
    from bdc_collection_builder_spark.plans.registry import (
        QUERY_REGISTRY,
        all_queries,
    )
    from bdc_collection_builder_spark.sources.tables import TABLES

    t0 = time.perf_counter()
    data_dir = os.path.join(run_dir, "data")
    datagen.write(data_dir, seed, ANALYTICS_SF)
    setup_s = boot_s + time.perf_counter() - t0

    all_queries()
    defs = {name: QUERY_REGISTRY[name] for name in ANALYTICS_QUERIES}
    per_pass = len(ANALYTICS_QUERIES)
    tracker = spark.sparkContext.statusTracker()

    per_query: dict[str, list[float]] = {q: [] for q in ANALYTICS_QUERIES}
    last_frames: dict[str, object] = {}
    pass_times: list[float] = []
    errors: list[str] = []
    attempted = failed = 0
    warmup_s = 0.0
    timed_start = None
    # Every pass runs the queries in the same order: the seed varies the
    # data, not the order, so JIT and cache state meet each query alike.
    for p in itertools.count():
        timed = p >= ANALYTICS_WARMUP_PASSES
        if timed and timed_start is None:
            timed_start = time.perf_counter()
        if (timed and p - ANALYTICS_WARMUP_PASSES >= ANALYTICS_MIN_TIMED_PASSES
                and time.perf_counter() - timed_start >= seconds):
            break
        pass_start = time.perf_counter()
        for i, name in enumerate(ANALYTICS_QUERIES):
            op_id = p * per_pass + i
            attempted += 1
            spark.catalog.clearCache()
            try:
                with tracer.operation(op_id, name, timed):
                    _set_group(spark, op_group(op_id, "build"))
                    a = time.perf_counter()
                    with tracer.span("plans.build"):
                        df = defs[name].spark_fn(spark, data_dir)
                    b = time.perf_counter()
                    _set_group(spark, op_group(op_id, "exec"))
                    with tracer.span("plans.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    c = time.perf_counter()
                    if tracer.enabled:
                        tracer.frames.append((df, True))
                n_jobs = sum(len(tracker.getJobIdsForGroup(op_group(op_id, ph)))
                             for ph in ("build", "exec"))
                if p > 0 and n_jobs == 0:
                    raise RuntimeError(
                        "repeat call launched no Spark job (module-cached "
                        "query; it does not belong in the suite)")
            except Exception as exc:
                failed += 1
                errors.append(f"op {op_id} ({name}): {type(exc).__name__}: "
                              f"{str(exc)[:300]}")
                continue
            if timed:
                per_query[name].append((c - a) * 1000.0)
                last_frames[name] = df
        pass_times.append(round(time.perf_counter() - pass_start, 2))
        if not timed:
            warmup_s += pass_times[-1]
    checks_start = time.perf_counter()
    timed_wall = checks_start - timed_start
    _set_group(spark, "checks")

    con = duckdb.connect()
    for table in TABLES:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{table}.parquet')")
    for name, df in last_frames.items():
        # the DataFrame the last timed repetition built, collected now
        why = strict_mismatch(df.toPandas(),
                              con.execute(defs[name].oracle).fetchdf())
        if why is not None:
            failed += len(per_query[name])
            errors.append(f"{name}: result differs from its oracle: {why}")
    con.close()
    return Outcome(setup_s=setup_s, warmup_s=warmup_s, kind_ms=per_query,
                   work_units=sum(map(len, per_query.values())),
                   timed_wall_s=timed_wall,
                   attempted=attempted, failed=failed, errors=errors,
                   detail={"pass_s": pass_times, "query_ms": per_query,
                           "checks_s": round(time.perf_counter()
                                             - checks_start, 1)})


WORKLOADS = {"ingest": run_ingest, "analytics": run_analytics}

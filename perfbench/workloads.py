"""The benchmark's workloads.

Each workload writes its inputs from the seed (untimed), opens them in
``setup`` (timed, repeated), runs one timed operation per ``op`` call,
checks every operation's output afterwards (untimed) and, in a traced run,
attributes the operation's cost to the program's layers.

Layer attribution is done from outside the program: spans around calls
into each module's public functions, one Spark job group per span, task
metrics from the event log, and prefix cuts -- each lazy layer's output
is written to the ``noop`` sink in pipeline order and the layer is charged
its marginal time over the cut of its input.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

import gen
import tracing
from p3_osm_transformer_spark.operators import geocode as geocode_mod
from p3_osm_transformer_spark.operators.exif import geotag_caption_or_exif
from p3_osm_transformer_spark.operators.knn import knn_bruteforce, knn_ring
from p3_osm_transformer_spark.operators.osm import build_addresses
from p3_osm_transformer_spark.operators.pip import np_points_in_polygon, pip_join
from p3_osm_transformer_spark.operators.tile_assign import assign_tiles
from p3_osm_transformer_spark.plans import pipeline
from p3_osm_transformer_spark.sources.catalog import Catalog
from p3_osm_transformer_spark.sources.osm_xml import read_osm
from p3_osm_transformer_spark.sources.rdf import query_addresses_from_turtle
from p3_osm_transformer_spark.streaming.resume import full_table, resume_run


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    return float(statistics.median(xs))


def dir_files(root: str, suffix: str = ".parquet") -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(root)
            for f in fs if f.endswith(suffix)]


def cuts(tracer: tracing.Tracer, groups: dict) -> tuple[dict, dict]:
    """Wall time and summed task metrics of each prefix-cut span."""
    spans = [s for s in tracer.spans if s.name.startswith("cut.")]
    return ({s.name: s.wall for s in spans},
            {s.name: tracing.total(groups, tracer.descendants(s.group))
             for s in spans})


def pip_truth(polys: dict, lon: np.ndarray, lat: np.ndarray) -> dict:
    """polygon_id -> number of points inside it, by bbox filter and
    np_points_in_polygon over the generator's own rings."""
    out = {}
    for pid, ring, x0, y0, x1, y1 in zip(
            polys["polygon_id"], polys["rings"],
            polys["bbox_lon0"], polys["bbox_lat0"],
            polys["bbox_lon1"], polys["bbox_lat1"]):
        m = (lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1)
        n = int(np_points_in_polygon(lon[m], lat[m], ring).sum()) if m.any() else 0
        if n:
            out[int(pid)] = n
    return out


def geotag_kind(row) -> int:
    """Which rule geotagged an enriched row: a caption geotag wins, EXIF
    fills what the caption left empty."""
    if row["lat"] is None:
        return gen.NONE
    return gen.CAPTION if "geo:" in row["caption"] else gen.EXIF


class Workload:
    name = ""
    # Timed operations stop only at a multiple of this, so every run times
    # whole cycles of the workload's request mix.
    OPS_MULTIPLE = 1
    # Untimed operations before the timed ones (JIT, codegen, Python
    # workers): operations keep getting faster for the first few.
    WARM_UPS = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work = spark, work
        self.rng = np.random.default_rng(seed)
        self.ops: list[dict] = []          # one record per timed operation
        self.started = 0                   # operations begun, warm-up included

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def warm_up(self) -> None:
        for _ in range(self.WARM_UPS):
            self.run_op()
            self.ops.pop()

    def run_op(self) -> dict:
        i, self.started = self.started, self.started + 1
        t0 = time.perf_counter()
        rec = self.op(i)
        rec["wall_s"] = time.perf_counter() - t0
        self.ops.append(rec)
        return rec

    def extras(self) -> dict:
        """End-to-end figures that only this workload has; printed, not
        gated (the gated set must exist on every workload)."""
        return {}


# ------------------------------------------------------------------ enrich

class EnrichSkewed(Workload):
    """resume_run(enrich_images(caption+exif, ring kNN)) into a fresh
    catalog.  The traced run adds the resume leg.  30% of images and
    addresses sit in one city-sized cluster."""
    name = "enrich_skewed"
    N_IMAGES, N_ADDR, HOT = 2500, 2500, 0.3
    N_POLYGONS = 256
    # The first warm operation is still ~10% slower than the ones after it
    WARM_UPS = 2
    KNN_SAMPLE = 200

    def generate(self) -> None:
        rng = self.rng
        t1, self.truth1 = gen.images(rng, self.N_IMAGES, self.HOT)
        n2 = self.N_IMAGES // 10
        t2, self.truth2 = gen.images(rng, n2, self.HOT, first_id=self.N_IMAGES)
        gen.write_parquet(t1, self.path("in", "images_leg1"))
        gen.write_parquet(t2, self.path("in", "images_leg2"), parts=1)
        gen.write_parquet(gen.addresses(rng, self.N_ADDR, self.HOT),
                          self.path("in", "addresses"))
        self.sample_idx = rng.permutation(self.N_IMAGES + n2)
        self.polys = gen.polygons(rng, self.N_POLYGONS)
        gen.write_parquet(gen.polygons_table(self.polys), self.path("in", "polygons"),
                          parts=1)

    def setup(self, tracer=None) -> None:
        read = self.spark.read.parquet
        self.images1 = read(self.path("in", "images_leg1"))
        self.images_all = read(self.path("in", "images_leg1"),
                               self.path("in", "images_leg2"))
        self.addresses = read(self.path("in", "addresses"))
        self.images1.count(), self.images_all.count(), self.addresses.count()

    def transform(self, todo):
        return pipeline.enrich_images(todo, self.addresses, knn_strategy="ring",
                                      geotag="caption+exif")

    def catalog(self, i: int) -> Catalog:
        return Catalog(self.path("catalog", f"op{i}"))

    def op(self, i: int) -> dict:
        cat = self.catalog(i)
        m = resume_run(self.spark, cat, "enriched", self.images1,
                       "image_id", self.transform)
        pipeline.release_enrich_cache()
        return {"op": i, "rows_in": m["rows_in"], "rows_out": m["rows_out"]}

    def rows_per_s(self) -> float:
        return median([r["rows_in"] / r["wall_s"] for r in self.ops])

    def extras(self) -> dict:
        return {"table_bytes_per_row": (median([r["bytes"] / r["rows_out"]
                                                for r in self.ops]), "B/row")}

    def rows(self, cat: Catalog) -> list:
        return (full_table(self.spark, cat, "enriched")
                .select("image_id", "caption", "lat", "lon", "nearest_addr_id")
                .collect())

    # ---- checks
    def check(self) -> list[str | None]:
        """One verdict per timed operation: None if its committed table is
        right."""
        self.truth = {k: np.concatenate([np.asarray(self.truth1[k]),
                                         np.asarray(self.truth2[k])])
                      for k in ("image_id", "kinds", "lat", "lon")}
        self.pos = {iid: j for j, iid in enumerate(self.truth["image_id"])}
        verdicts = []
        for rec in self.ops:
            cat = self.catalog(rec["op"])
            rec["bytes"] = sum(os.path.getsize(p) for p in dir_files(cat.root))
            rows = self.rows(cat)
            if not verdicts:
                self.knn = self._knn_truth(rows)
            verdicts.append(
                (None if rec["rows_in"] == self.N_IMAGES else
                 f"rows_in {rec['rows_in']}, want {self.N_IMAGES}")
                or self._check_rows(rows, self.N_IMAGES))
        return verdicts

    def _knn_truth(self, rows) -> dict:
        by_pos = {self.pos[r["image_id"]]: r for r in rows if r["image_id"] in self.pos}
        picks = [by_pos[j] for j in self.sample_idx
                 if j in by_pos and by_pos[j]["lat"] is not None][:self.KNN_SAMPLE]
        pts = self.spark.createDataFrame(
            [(r["image_id"], r["lon"], r["lat"]) for r in picks],
            "point_id string, lon double, lat double")
        nn = knn_bruteforce(pts, self.addresses.select(
            "addr_id", "street_address", "lat", "lon"), k=1).collect()
        return {r["point_id"]: r["addr_id"] for r in nn}

    def _check_rows(self, rows, n: int) -> str | None:
        """``rows`` must be exactly the first ``n`` generated images, each
        geotagged as generated and, on the sample, with the brute-force
        nearest address."""
        truth, knn = self.truth, self.knn
        if len(rows) != n or len({r["image_id"] for r in rows}) != n:
            return f"{len(rows)} output rows for {n} input rows"
        got = np.full(n, -1, dtype=np.int8)
        for r in rows:
            j = self.pos.get(r["image_id"], n)
            if j >= n:
                return f"{r['image_id']}: not an input row"
            got[j] = geotag_kind(r)
            if r["lat"] is not None and (abs(r["lat"] - truth["lat"][j]) > 1e-6
                                         or abs(r["lon"] - truth["lon"][j]) > 1e-6):
                return f"{r['image_id']}: geotag {r['lat']},{r['lon']}"
            if r["image_id"] in knn and r["nearest_addr_id"] != knn[r["image_id"]]:
                return (f"{r['image_id']}: nearest {r['nearest_addr_id']} "
                        f"!= brute force {knn[r['image_id']]}")
        if not np.array_equal(got, truth["kinds"][:n]):
            return f"geotag split {np.bincount(got, minlength=3).tolist()}"
        return None

    @staticmethod
    def split(rows) -> dict:
        kinds = Counter(geotag_kind(r) for r in rows)
        return {"geotag.caption_rows": kinds[gen.CAPTION],
                "geotag.exif_rows": kinds[gen.EXIF],
                "geotag.none_rows": kinds[gen.NONE]}

    # ---- tracing
    def trace(self, tracer: tracing.Tracer) -> list[str | None]:
        """One traced operation and the resume leg (10% new image_ids
        appended; resume does only those), with spans around the calls
        into the pipeline, kNN, catalog and resume layers; then prefix
        cuts over the leg-1 input.  Returns the verdict on the resumed
        table."""
        cat = Catalog(self.path("catalog", "traced"))

        def transform(todo):
            with tracer.span("pipeline"):
                return self.transform(todo)
        targets = [(pipeline, "knn_ring", "knn"),
                   (Catalog, "write_snapshot", "catalog.write"),
                   (Catalog, "read", "catalog.read")]
        with tracer.wrapped(targets):
            # the timed operation is leg 1; leg 2 is traced after it
            for inputs, span in ((self.images1, "op"), (self.images_all, "leg2")):
                with tracer.span(span) as sp, tracer.span("resume"):
                    m = resume_run(self.spark, cat, "enriched", inputs,
                                   "image_id", transform)
                    pipeline.release_enrich_cache()
        files = dir_files(cat.root)
        rows = self.rows(cat)
        n2 = len(self.truth2["image_id"])
        self.traced = {
            "todo_ratio": m["rows_in"] / self.images_all.count(),
            "resume_rows_per_s": m["rows_in"] / sp.wall,
            "files": len(files),
            "bytes": sum(os.path.getsize(p) for p in files),
            "split": self.split(rows)}
        self._cuts(tracer)
        # the PIP cut's points are leg 1's geotagged images, as enriched
        leg1 = [r for r in rows
                if r["lat"] is not None and self.pos[r["image_id"]] < self.N_IMAGES]
        want = pip_truth(self.polys, np.array([r["lon"] for r in leg1]),
                         np.array([r["lat"] for r in leg1]))
        return [self._check_rows(rows, len(self.pos))
                or (None if m["rows_in"] == n2 else
                    f"resume rows_in {m['rows_in']}, want {n2}"),
                None if self.pip_counts == want else
                f"pip: {sum(self.pip_counts.values())} matches vs "
                f"{sum(want.values())} ray-cast"]


    def _cuts(self, tracer: tracing.Tracer) -> None:
        """Prefix cuts mirroring the calls plans/pipeline.py makes, then
        the geotagged points against the admin polygons (pip_join is not
        in the pipeline; this is the only place operators.pip runs)."""
        addr = self.addresses.select("addr_id", "street_address", "lat", "lon")
        with tracer.span("cut.scan"):
            noop(self.images1)
        tagged = geotag_caption_or_exif(self.images1)
        with tracer.span("cut.geotag"):
            noop(tagged)
        geo = tagged.filter(F.col("lat").isNotNull())
        with tracer.span("cut.tile_assign"):
            noop(assign_tiles(geo, s2_levels=(12,), hex_resolutions=(9,)))
        pts = geo.select(F.col("image_id").alias("point_id"), "lon", "lat")
        with tracer.span("cut.knn"):
            with tracer.span("knn.call"):
                nn = knn_ring(pts, addr, k=1, g=None, start_ring=2)
            noop(nn)
        polygons = self.spark.read.parquet(self.path("in", "polygons"))
        with tracer.span("cut.pip"):
            noop(pip_join(pts, polygons))
        counts = pip_join(pts, polygons).groupBy("polygon_id").count().collect()
        self.pip_counts = {r["polygon_id"]: r["count"] for r in counts}

    def layers(self, tracer: tracing.Tracer, groups: dict) -> dict:
        wall, tm = cuts(tracer, groups)
        resumes = tracer.named("resume")

        def jobs(spans):
            return sum(groups.get(s.group, {}).get("spark_jobs", 0) for s in spans)
        return {
            "geotag.wall_s": wall["cut.geotag"] - wall["cut.scan"],
            "geotag.py_s": tm["cut.geotag"]["py_s"] - tm["cut.scan"]["py_s"],
            **self.traced["split"],
            "tile_assign.wall_s": wall["cut.tile_assign"] - wall["cut.geotag"],
            "tile_assign.py_s": tm["cut.tile_assign"]["py_s"] - tm["cut.geotag"]["py_s"],
            "knn.wall_s": wall["cut.knn"] - wall["cut.geotag"],
            "knn.spark_jobs": jobs(tracer.named("knn.call")),
            "knn.task_cpu_s": tm["cut.knn"]["task_cpu_s"] - tm["cut.geotag"]["task_cpu_s"],
            "knn.shuffle_mb": tm["cut.knn"]["shuffle_write_mb"],
            "pip.wall_s": wall["cut.pip"] - wall["cut.geotag"],
            "pip.py_s": tm["cut.pip"]["py_s"] - tm["cut.geotag"]["py_s"],
            "pip.matches": sum(self.pip_counts.values()),
            "pipeline.call_s": sum(s.wall for s in tracer.named("pipeline")),
            "catalog.write_s": sum(s.wall for s in tracer.named("catalog.write")),
            "catalog.read_s": sum(s.wall for s in tracer.named("catalog.read")),
            "catalog.bytes_written_mb": self.traced["bytes"] / 2**20,
            "catalog.files_written": self.traced["files"],
            "resume.wall_s": sum(tracer.self_time(s) for s in resumes),
            "resume.todo_ratio": self.traced["todo_ratio"],
            "resume.rows_per_s": self.traced["resume_rows_per_s"],
            "resume.spark_jobs": jobs(resumes),
        }


# ------------------------------------------------------------------ geocode

class GeocodeRequests(Workload):
    """Closed loop, one client: each request is a 1-4 subject Turtle body
    -> query_addresses_from_turtle -> geocode(token-join) -> collect()."""
    name = "geocode_requests"
    N_ADDR, N_REQUESTS, TRACED_REQUESTS = 3000, 400, 4
    # Requests cycle through 1-4 subjects, so every run times whole cycles
    OPS_MULTIPLE = WARM_UPS = 4

    def generate(self) -> None:
        gen.osm_xml(self.rng, self.N_ADDR, self.path("in", "extract.osm"))
        os.makedirs(self.path("in", "requests"), exist_ok=True)
        self.subjects = []
        for r in range(self.N_REQUESTS):
            body = gen.turtle_request(self.rng, r)
            self.subjects.append(body.count("schema:PostalAddress"))
            with open(self.path("in", "requests", f"r{r:04d}.ttl"), "w") as f:
                f.write(body)

    def request_path(self, i: int) -> str:
        return self.path("in", "requests", f"r{i % self.N_REQUESTS:04d}.ttl")

    def setup(self, tracer=None) -> None:
        span = tracer.span if tracer else (lambda _: contextlib.nullcontext())
        if getattr(self, "addresses", None) is not None:
            self.addresses.unpersist()
        with span("osm.read"):
            nodes, ways = read_osm(self.spark, self.path("in", "extract.osm"))
        with span("osm.build"):
            self.addresses = build_addresses(nodes, ways).cache()
            self.n_addresses = self.addresses.count()

    def op(self, i: int) -> dict:
        q = query_addresses_from_turtle(self.spark, self.request_path(i))
        rows = geocode_mod.geocode(q, self.addresses, "token-join").collect()
        i %= self.N_REQUESTS
        return {"request": i, "subjects": self.subjects[i], "rows": rows}

    def rows_per_s(self) -> float:
        return (sum(r["subjects"] for r in self.ops)
                / sum(r["wall_s"] for r in self.ops))

    def extras(self) -> dict:
        ms = sorted(r["wall_s"] * 1e3 for r in self.ops)
        return {"request_ms_p90": (float(np.percentile(ms, 90)), "ms"),
                "requests": (len(ms), "count")}

    def check(self) -> list[str | None]:
        """Every request's rows must equal the strategy='overlap' twin's
        rows for the same query subjects (one twin run over one Turtle
        document holding every timed request's body)."""
        path = self.path("in", "checked.ttl")
        with open(path, "w") as out:
            for r in self.ops:
                with open(self.request_path(r["request"])) as f:
                    out.write(f.read())
        twin = geocode_mod.geocode(query_addresses_from_turtle(self.spark, path),
                                   self.addresses, "overlap").collect()
        by_q: dict[str, Counter] = {}
        for row in twin:
            by_q.setdefault(row["query_id"], Counter())[tuple(row)] += 1
        verdicts = []
        for r in self.ops:
            got: dict[str, Counter] = {}
            for row in r["rows"]:
                got.setdefault(row["query_id"], Counter())[tuple(row)] += 1
            want = {q: c for q, c in by_q.items()
                    if q.split("/")[-1].startswith(f"r{r['request']}-")}
            verdicts.append(None if got == want else
                            f"request {r['request']}: {sum(map(len, got.values()))} "
                            f"rows vs twin {sum(map(len, want.values()))}")
        return verdicts

    def trace(self, tracer: tracing.Tracer) -> list[str | None]:
        """Per traced request: an rdf cut (parse + materialize the query
        rows), then the full request under its own span.  The traced
        requests are not checked."""
        self.traced_rows = []
        for k in range(self.TRACED_REQUESTS):
            path = self.request_path(self.started + k)
            with tracer.span("cut.rdf"):
                noop(query_addresses_from_turtle(self.spark, path))
            with tracer.span("op"):
                q = query_addresses_from_turtle(self.spark, path)
                with tracer.span("geocode"):
                    rows = geocode_mod.geocode(q, self.addresses, "token-join").collect()
            self.traced_rows.append(len(rows))
        return []

    def layers(self, tracer: tracing.Tracer, groups: dict) -> dict:
        ops, rdf = tracer.named("op"), tracer.named("cut.rdf")
        jobs = [tracing.total(groups, tracer.descendants(o.group))["spark_jobs"]
                for o in ops]
        return {
            "rdf.wall_s": median([s.wall for s in rdf]),
            "geocode.wall_s": median([o.wall - r.wall for o, r in zip(ops, rdf)]),
            "geocode.spark_jobs": median(jobs),
            "geocode.matches_per_request": median(self.traced_rows),
            "osm.read_s": median([s.wall for s in tracer.named("osm.read")]),
            "osm.build_s": median([s.wall for s in tracer.named("osm.build")]),
            "osm.address_rows": self.n_addresses,
        }


WORKLOADS = {w.name: w for w in (EnrichSkewed, GeocodeRequests)}

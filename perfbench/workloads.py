"""The benchmark's workloads.

Each workload drives the engine only through its public functions:

* ``generate`` — seeded inputs, made before the session starts and cached
  per (workload, seed, size);
* ``open`` — read the input and build the reference tables;
* ``run_pass`` — one timed pass; ``check_pass`` — its untimed check, which
  returns the pass's output digest and any errors;
* ``verify`` — the independent output check, which fixes the digest every
  pass must reproduce (the result is cached per seed and code version);
* ``trace`` — the per-layer measurements of a traced run, and the errors
  of the jobs it checks.

Two workloads run a pass: ``crawl_tw_villages`` and ``release_build``.  The
Iceberg-lite scan and the checkpointed resume (:class:`ResumeJob`) and the
doc-curation queries (:class:`DocQueries`) are measured and checked in
their traced runs only.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import statistics
import subprocess
import sys
import time
import zipfile
from pathlib import Path

import pandas as pd
from pyspark.sql import Observation
from pyspark.sql import functions as F

from immich_geodata_zh_tw_spark.extract.html_meta import extract_pages
from immich_geodata_zh_tw_spark.functions.countries import COUNTRY_ZH_TW
from immich_geodata_zh_tw_spark.functions.geo import cell_expr, in_bbox
from immich_geodata_zh_tw_spark.operators.knn import (
    explode_places_by_kring, knn_join, knn_join_static, max_nn_spacing_km,
    min_cell_km)
from immich_geodata_zh_tw_spark.operators.pipjoin import (pip_join,
                                                          polygon_cells_pdf)
from immich_geodata_zh_tw_spark.plans.driver_queries import (oracle_sql,
                                                             queries)
from immich_geodata_zh_tw_spark.plans.release import run_release
from immich_geodata_zh_tw_spark.plans.reverse_geocode import \
    reverse_geocode_pages
from immich_geodata_zh_tw_spark.sources.manifest import checkpointed_run
from immich_geodata_zh_tw_spark.sources.pages import read_pages
from immich_geodata_zh_tw_spark.synth import TW_BBOX
from immich_geodata_zh_tw_spark.synth.pages import page_coords

from . import checks, inputs
from .tracing import Py4jCalls, node_total, self_times

RES = 10  # reverse_geocode_pages' default PIP and kNN grid resolution
SAMPLE = 2000  # output rows checked against the brute-force reference
SPLITS = 16
SPLIT_EXPR = f"pmod(xxhash64(url), {SPLITS})"
CRAWL_COLS = ["url", "lat", "lon", "cell", "county", "township", "village",
              "geoname_id", "name", "admin1_code", "country_zh", "knn_dist_km"]


def code_version() -> str:
    """Hash of the engine's and the benchmark's sources: a verified digest
    is reused only by the code that produced it."""
    root = Path(__file__).resolve().parent.parent
    h = hashlib.sha256()
    for pkg in ("immich_geodata_zh_tw_spark", "perfbench"):
        for p in sorted((root / pkg).rglob("*.py")):
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def verified_path(work: Path, key: str) -> Path:
    """Where the verified digest of ``key`` is cached for this code."""
    return work / "verified" / f"{key}-{code_version()}.json"


def timed(fn, *args, **kw):
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest_cols(cols):
    """(row count, order-insensitive 64-bit hash) aggregate expressions."""
    return (F.count(F.lit(1)).alias("n"),
            F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("h"))


def observed_noop(df, name: str, cols=None) -> Observation:
    """Run ``df`` to the noop sink, observing its digest on the way."""
    obs = Observation(name)
    noop(df.observe(obs, *digest_cols(cols or df.columns)))
    return obs


def dir_stats(root: Path) -> tuple[int, int]:
    files = [p for p in root.rglob("*") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


def medians(runs: dict[str, list[float]]) -> dict[str, float]:
    return {k: statistics.median(v) for k, v in runs.items()}


class Workload:
    name = ""
    n_rows = 0  # input rows per pass: the numerator of rows_per_s

    def __init__(self, work: Path, seed: int, trace: bool = False) -> None:
        self.work, self.seed, self.traced = work, seed, trace
        self.scratch = work / "run"
        shutil.rmtree(self.scratch, ignore_errors=True)
        self.scratch.mkdir(parents=True)
        self.pass_stats: list[dict] = []

    @property
    def key(self) -> str:
        return f"{self.name}-s{self.seed}-n{self.n_rows}"

    def pass_metrics(self, n: int) -> dict[str, float]:
        """Per-layer metrics taken from the last ``n`` (traced) passes."""
        return {}

    def log_metrics(self, log: dict) -> dict[str, float]:
        """Per-layer metrics read from the traced run's event log."""
        return {}


# ---------------------------------------------------------------------------
# crawl
# ---------------------------------------------------------------------------

class CrawlTwVillages(Workload):
    """Dense Taiwan crawl against reference-sized dims (8,000 villages).

    The traced run adds the layer prefixes, the layer counts and
    :class:`ResumeJob` over an Iceberg-lite copy of the same pages."""

    name = "crawl_tw_villages"
    n_rows = 8_000
    village_grid = 20

    def generate(self) -> None:
        self.input = inputs.tw_pages(self.work, self.seed, self.n_rows)
        if self.traced:
            self.resume = ResumeJob(self, self.input)

    def open(self, spark) -> None:
        self.polys, self.cities = inputs.dims(self.work, self.village_grid)
        self.pages(spark)

    def pages(self, spark):
        return read_pages(spark, str(self.input))

    def geocode(self, spark, pages):
        return reverse_geocode_pages(spark, pages, self.polys, self.cities)

    def truth(self) -> pd.DataFrame:
        ids = inputs.tw_page_ids(self.seed, self.n_rows)
        lat, lon = page_coords(ids)
        return pd.DataFrame({
            "url": [f"https://example.org/site{i % 1000}/page/{i}"
                    for i in ids.tolist()], "lat": lat, "lon": lon})

    def run_pass(self, spark, i: int) -> dict:
        df = self.geocode(spark, self.pages(spark))
        return {"df": df, "obs": observed_noop(df, f"out{i}", CRAWL_COLS)}

    def check_pass(self, spark, res: dict) -> tuple[list, list[str]]:
        self.digest = [res["obs"].get["n"], res["obs"].get["h"]]
        return self.digest, []

    def verify(self, spark, res) -> tuple[list, list[str]]:
        """Collect the output of the last pass's plan once more and check
        all of it against the independent brute force."""
        obs = Observation("verify")
        out = res["df"].observe(obs, *digest_cols(CRAWL_COLS)).toPandas()
        errors = checks.check_crawl(
            out, self.truth(), self.polys, self.cities, TW_BBOX,
            sample=SAMPLE, seed=self.seed, country_zh=COUNTRY_ZH_TW["TW"])
        return [obs.get["n"], obs.get["h"]], errors

    # -- per-layer ---------------------------------------------------------

    def prefix_frames(self, spark, timings: dict):
        """Yield (layer, DataFrame) for each cumulative prefix of the
        reverse-geocode chain, recording each public call's build time."""
        pages, t = timed(self.pages, spark)
        timings.setdefault("open", []).append(t)
        yield "scan", pages
        ext = extract_pages(pages, with_text=False)
        yield "extract", ext
        pts = (ext.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
               .filter(in_bbox(F.col("lat"), F.col("lon"), TW_BBOX))
               .repartition(spark.sparkContext.defaultParallelism))
        yield "bbox", pts
        polys = self.polys.reset_index(drop=True).copy()
        polys.insert(0, "poly_id", range(len(polys)))
        pip, t = timed(pip_join, spark, pts, polys[
            ["poly_id", "geometry_wkb", "county", "township", "village"]],
            id_col="poly_id", attr_cols=["county", "township", "village"],
            res=RES)
        timings.setdefault("pip_build", []).append(t)
        pip = pip.drop("poly_id")
        yield "pip", pip
        t0 = time.perf_counter()
        self.static = self.static_knn()
        knn = (knn_join_static if self.static else knn_join)(
            spark, pip, self.cities, query_id="url",
            place_cols=["geoname_id", "name", "admin1_code"], res=RES, k=1)
        timings.setdefault("knn_build", []).append(time.perf_counter() - t0)
        yield "knn", knn
        with Py4jCalls() as calls:
            full, t = timed(self.geocode, spark, self.pages(spark))
        timings.setdefault("rg_build", []).append(t)
        timings.setdefault("rg_py4j", []).append(calls.calls)
        yield "full", full

    def static_knn(self) -> bool:
        """reverse_geocode_pages' choice between the static and the general
        kNN join, made the same way."""
        guard = min_cell_km(RES, max(abs(TW_BBOX[0]), abs(TW_BBOX[1])) + 1.0)
        return max_nn_spacing_km(self.cities) <= guard

    def layer_counts(self, spark) -> dict[str, float]:
        """Exact row counts at each layer boundary (untimed jobs)."""
        sc = spark.sparkContext
        sc.setJobDescription("counts")
        frames = {}
        for name, df in self.prefix_frames(spark, {}):
            frames[name] = df
            if name == "pip":
                break
        ext = frames["extract"].agg(F.count(F.lit(1)).alias("n"),
                                    F.count("lat").alias("geo")).first()
        polys = self.polys.reset_index(drop=True).copy()
        polys.insert(0, "poly_id", range(len(polys)))
        cover = polygon_cells_pdf(polys, id_col="poly_id", res=RES)
        per_cell = spark.createDataFrame(
            cover.groupby("cell").size().rename("m").reset_index())
        bbox = (frames["bbox"]
                .withColumn("cell", cell_expr(F.col("lat"), F.col("lon"), RES))
                .join(F.broadcast(per_cell), "cell", "left")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.coalesce("m", F.lit(0))).alias("cand"))).first()
        ring = (explode_places_by_kring(
            spark, self.cities, lat_col="latitude", lon_col="longitude",
            res=RES, k=1).groupBy("cell").agg(F.count(F.lit(1)).alias("m")))
        pip = (frames["pip"]
               .withColumn("cell", cell_expr(F.col("lat"), F.col("lon"), RES))
               .join(F.broadcast(ring), "cell", "left")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.coalesce("m", F.lit(0))).alias("cand"))).first()
        sc.setJobDescription(None)
        return {
            "extract.html_meta.geo_frac": ext.geo / max(ext.n, 1),
            "functions.geo.bbox_keep_frac": bbox.n / max(ext.n, 1),
            "operators.pipjoin.cover_rows": float(len(cover)),
            "operators.pipjoin.cand_per_point": bbox.cand / max(bbox.n, 1),
            "operators.pipjoin.hit_per_cand": pip.n / max(bbox.cand, 1),
            "operators.knn.cand_per_query": pip.cand / max(pip.n, 1),
            "operators.knn.static_path": float(self.static),
        }

    def trace_prefixes(self, spark, seconds: float) -> dict[str, float]:
        """Materialize every prefix to noop, round after round, until
        ``seconds`` have passed; per-layer metrics from the medians."""
        sc = spark.sparkContext
        runs: dict[str, list[float]] = {}
        timings: dict[str, list] = {}
        t_end = time.perf_counter() + seconds
        while not runs or time.perf_counter() < t_end:
            for name, df in self.prefix_frames(spark, timings):
                sc.setJobDescription(f"prefix:{name}")
                t0 = time.perf_counter()
                noop(df)
                runs.setdefault(name, []).append(time.perf_counter() - t0)
            sc.setJobDescription(None)
        med = medians(runs)
        # a prefix's time includes building it: add each layer's build
        builds = medians({"pip": timings["pip_build"],
                          "knn": timings["knn_build"],
                          "full": timings["rg_build"]})
        total = {k: med[k] + builds.get(k, 0.0) for k in med}
        total["knn"] += builds["pip"]
        selfs = self_times(list(total.items()))
        self.prefix_runs = len(runs["full"])
        return {
            "sources.pages.open_s": statistics.median(timings["open"]),
            "sources.pages.scan_s": selfs["scan"],
            "extract.html_meta.self_s": selfs["extract"],
            "functions.geo.bbox_self_s": selfs["bbox"],
            "operators.pipjoin.build_s": builds["pip"],
            "operators.pipjoin.self_s": selfs["pip"],
            "operators.knn.build_s": builds["knn"],
            "operators.knn.self_s": selfs["knn"],
            "functions.countries.self_s": selfs["full"],
            "plans.reverse_geocode.build_s": builds["full"],
            "plans.reverse_geocode.py4j_calls": float(
                statistics.median(timings["rg_py4j"])),
        }

    def trace(self, spark, seconds: float) -> tuple[dict, list[str]]:
        metrics = {**self.trace_prefixes(spark, seconds),
                   **self.layer_counts(spark)}
        resume, errors = self.resume.run(spark, self.digest)
        return {**metrics, **resume}, errors

    def log_metrics(self, log: dict) -> dict[str, float]:
        full = log.get("prefix:full")
        bbox = log.get("prefix:bbox")
        n = self.prefix_runs
        if not full:
            return {}
        return {
            "extract.html_meta.py_bytes_sent": node_total(
                full, "MapInPandas", "data sent to Python workers") / n,
            "extract.html_meta.py_bytes_returned": node_total(
                full, "MapInPandas", "data returned from Python workers") / n,
            "extract.html_meta.py_time_s": node_total(
                full, "MapInPandas", "time to run Python workers") / 1e3 / n,
            "operators.pipjoin.py_bytes_sent": node_total(
                full, "ArrowEvalPython", "data sent to Python workers") / n,
            "functions.geo.shuffle_write_bytes":
                bbox["shuffle_write_bytes"] / n if bbox else 0.0,
        }


class ResumeJob:
    """The crawl's pages stored as an Iceberg-lite table, read with
    ``read_pages``, split by ``pmod(xxhash64(url), 16)`` and geocoded through
    ``checkpointed_run``: splits 0-7 first (the interrupted run), then all 16
    (the resume).  Measured and checked once per traced run."""

    def __init__(self, crawl: CrawlTwVillages, parquet: Path) -> None:
        """Store the pages as an Iceberg-lite table, by
        ``perfbench.bootstrap`` in a process of its own, unless a complete
        copy exists."""
        self.crawl = crawl
        self.table = parquet.parent / "iceberg"
        if not (self.table / "metadata" / "version-hint.text").exists():
            subprocess.run([sys.executable, "-m", "perfbench.bootstrap",
                            str(parquet), str(self.table)],
                           stdout=sys.stderr, check=True)

    def run(self, spark, expect: list) -> tuple[dict, list[str]]:
        """Per-layer metrics of one interrupted-then-resumed job, and its
        errors: each run must process exactly 8 splits, the manifest hold
        16 ``ok`` rows, the two runs' rows add up to the output's, and the
        output's digest equal ``expect``, the noop-path pass's."""
        sc = spark.sparkContext
        crawl = self.crawl
        out = crawl.scratch / "resume"
        sc.setJobDescription("iceberg:scan")
        pages, open_s = timed(read_pages, spark, str(self.table))
        scan_s = timed(noop, pages)[1]
        df = pages.withColumn("split", F.expr(SPLIT_EXPR))

        def process(sub):
            return crawl.geocode(spark, sub).withColumn(
                "split", F.expr(SPLIT_EXPR))

        kw = dict(split_col="split", process=process,
                  output_path=str(out / "data"),
                  manifest_path=str(out / "manifest"))
        sc.setJobDescription("resume:first")
        first, first_s = timed(checkpointed_run, spark,
                               df.filter(F.col("split") < SPLITS // 2), **kw)
        sc.setJobDescription("resume:resume")
        resume, resume_s = timed(checkpointed_run, spark, df, **kw)
        sc.setJobDescription("resume:check")
        errors = []
        if (first["processed_splits"], resume["processed_splits"]
                ) != (SPLITS // 2, SPLITS // 2):
            errors.append(f"processed splits {first['processed_splits']} + "
                          f"{resume['processed_splits']}")
        manifest = spark.read.parquet(str(out / "manifest"))
        ok = manifest.filter(F.col("status") == "ok").select(
            "split_id").distinct().count()
        if ok != SPLITS or manifest.count() != SPLITS:
            errors.append(f"{ok} ok manifest splits of {manifest.count()} rows")
        row = spark.read.parquet(str(out / "data")).agg(
            *digest_cols(CRAWL_COLS)).first()
        if first["rows"] + resume["rows"] != row.n:
            errors.append(f"checkpointed runs report {first['rows']} + "
                          f"{resume['rows']} rows, output has {row.n}")
        if [row.n, row.h] != expect:
            errors.append(f"checkpointed output {[row.n, row.h]} differs "
                          f"from the noop path's {expect}")
        sc.setJobDescription(None)
        files, size = dir_stats(out)
        shutil.rmtree(out, ignore_errors=True)
        return {
            "sources.iceberg_lite.open_s": open_s,
            "sources.iceberg_lite.scan_s": scan_s,
            "sources.manifest.first_s": first_s,
            "sources.manifest.resume_s": resume_s,
            "sources.manifest.bytes_written_per_page": size / crawl.n_rows,
            "sources.manifest.files_written": float(files),
            "sources.manifest.skipped_splits": float(
                SPLITS - resume["processed_splits"]),
        }, errors


# ---------------------------------------------------------------------------
# release
# ---------------------------------------------------------------------------

RELEASE_DATE = "2026-01-01"
RELEASE_MEMBERS = {"geodata/cities500.txt", "geodata/admin1CodesASCII.txt",
                   "geodata/admin2Codes.txt", "geodata/geodata-date.txt",
                   "geodata/ne_10m_admin_0_countries.geojson"}
HANDLERS = {"TW": "tw", "KR": "kr", "JP": "jp"}


class ReleaseBuild(Workload):
    """``run_release`` (enhance → translate → pack) on seeded GeoNames-shaped
    inputs.  The traced run adds the stages one by one and
    :class:`DocQueries`."""

    name = "release_build"
    n_rows = 8_000  # cities500 input rows

    def generate(self) -> None:
        self.input = inputs.release_inputs(self.work, self.seed, self.n_rows)
        self.expected = checks.release_expectations(
            inputs.read_tables(self.input, inputs.RELEASE_TABLES))
        if self.traced:
            self.docs = DocQueries(self.work, self.seed)

    def open(self, spark) -> None:
        t = {name: spark.read.parquet(str(self.input / name))
             for name in inputs.RELEASE_TABLES}
        self.kwargs = dict(
            country_inputs={cc: t[k] for cc, k in HANDLERS.items()},
            cities=t["cities"], admin1=t["admin1"], admin2=t["admin2"],
            metadata=t["metadata"], chinese_names=t["chinese"],
            release_date=RELEASE_DATE)

    def release(self, spark, workdir: Path, skip=frozenset()) -> dict:
        return run_release(spark, workdir=workdir, skip=skip, **self.kwargs)

    def run_pass(self, spark, i: int) -> dict:
        return self.release(spark, self.scratch / f"release{i}")

    def check_pass(self, spark, res: dict) -> tuple[str, list[str]]:
        work = Path(res["zip"]).parent.parent
        cols = spark.read.parquet(res["translated"]).columns
        out = pd.read_csv(work / "cities500.txt", sep="\t", header=None,
                          names=cols, dtype=str, keep_default_na=False)
        admin1 = pd.read_csv(work / "admin1CodesASCII.txt", sep="\t",
                             header=None, dtype=str, keep_default_na=False)
        with zipfile.ZipFile(res["zip"]) as zf:
            members = set(zf.namelist()) - {"geodata/", ""}
        errors = checks.check_release(out, admin1, members, self.expected,
                                      RELEASE_MEMBERS)
        # modification_date of handler rows is the run's date
        stable = out.drop(columns="modification_date")
        lines = sorted(stable.astype(str).agg("\t".join, axis=1))
        files, size = dir_stats(work)
        self.pass_stats.append({"files": files, "bytes": size})
        shutil.rmtree(work, ignore_errors=True)
        res["digest"] = hashlib.sha256("\n".join(lines).encode()).hexdigest()
        return res["digest"], errors

    def verify(self, spark, res) -> tuple[str, list[str]]:
        """Every pass is checked in full; the cached digest keeps later runs
        of this seed to the same output."""
        return res["digest"], []

    def trace(self, spark, seconds: float) -> tuple[dict, list[str]]:
        metrics = self.trace_stages(spark, seconds)
        docs, errors = self.docs.run(spark, seconds)
        return {**metrics, **docs}, errors

    def trace_stages(self, spark, seconds: float) -> dict[str, float]:
        """Each stage alone (the other two in ``skip``, reading the
        artifacts the previous stage left), round after round until
        ``seconds`` have passed; the py4j calls of a round's three stages
        are those of one full run."""
        work = self.scratch / "trace"
        stages = ("enhance", "translate", "pack")
        runs: dict[str, list[float]] = {}
        sc = spark.sparkContext
        t_end = time.perf_counter() + seconds
        while not runs or time.perf_counter() < t_end:
            calls = 0
            for stage in stages:
                sc.setJobDescription(f"stage:{stage}")
                with Py4jCalls() as c:
                    _, t = timed(self.release, spark, work,
                                 skip=frozenset(stages) - {stage})
                runs.setdefault(stage, []).append(t)
                calls += c.calls
            runs.setdefault("py4j", []).append(calls)
        sc.setJobDescription(None)
        shutil.rmtree(work, ignore_errors=True)
        med = medians(runs)
        return {"plans.release.enhance_s": med["enhance"],
                "plans.release.translate_s": med["translate"],
                "sources.pack.pack_s": med["pack"],
                "plans.release.py4j_calls": float(med["py4j"])}

    def pass_metrics(self, n: int) -> dict[str, float]:
        last = self.pass_stats[-1]
        return {"plans.release.bytes_written": float(last["bytes"]),
                "plans.release.files_written": float(last["files"])}


# ---------------------------------------------------------------------------
# doc curation
# ---------------------------------------------------------------------------

#: the ten doc queries, covering operators.dedup, similarity, textstats,
#: bpe, sketch and sample
DOC_QUERIES = ["doc_exact_dedup", "doc_minhash_pairs", "doc_dedup_clusters",
               "doc_jaccard_pairs", "doc_gopher_filter", "doc_span_dedup",
               "doc_text_profile", "doc_domain_cap", "doc_vocab",
               "doc_repetition"]


class DocQueries:
    """The declared doc-curation queries over seeded documents, each built
    through ``plans.driver_queries.queries()`` and run to noop.  Measured
    and checked once per traced run."""

    n_docs = 500

    def __init__(self, work: Path, seed: int) -> None:
        self.work, self.seed = work, seed
        self.sf = str(inputs.documents(work, seed, self.n_docs))

    def run(self, spark, seconds: float) -> tuple[dict, list[str]]:
        """Build and run every query, round after round until ``seconds``
        have passed; then check each query's output digest against the
        verified one."""
        built = queries()
        sc = spark.sparkContext
        runs: dict[str, list[float]] = {}
        t_end = time.perf_counter() + seconds
        while not runs or time.perf_counter() < t_end:
            for q in DOC_QUERIES:
                sc.setJobDescription(f"query:{q}")
                df, t = timed(built[q], spark, self.sf)
                runs.setdefault(f"{q}.build_s", []).append(t)
                runs.setdefault(f"{q}.exec_s", []).append(timed(noop, df)[1])
        sc.setJobDescription("query:check")
        frames = {q: built[q](spark, self.sf) for q in DOC_QUERIES}
        got = {}
        for q, df in frames.items():
            row = df.agg(*digest_cols(df.columns)).first()
            got[q] = [row.n, row.h]
        path = verified_path(self.work, f"docs-s{self.seed}-n{self.n_docs}")
        if path.exists():
            expect, errors = json.loads(path.read_text())["digest"], []
        else:
            expect, errors = got, self.verify(frames)
            if not errors:
                path.parent.mkdir(parents=True, exist_ok=True)
                path.write_text(json.dumps({"digest": expect}))
        sc.setJobDescription(None)
        errors += [f"{q}: output {got[q]} differs from the verified "
                   f"{expect.get(q)}" for q in DOC_QUERIES
                   if got[q] != expect.get(q)]
        return medians(runs), errors

    def verify(self, frames: dict) -> list[str]:
        """Collect each query and compare it value for value with its
        ``oracle_sql()`` twin in DuckDB."""
        import duckdb

        sql = oracle_sql()
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{self.sf}/documents.parquet/*.parquet'")
        errors = []
        try:
            for q, df in frames.items():
                errors += checks.compare_frames(df.toPandas(),
                                                con.sql(sql[q]).df(), q)
        finally:
            con.close()
        return errors


WORKLOADS = {w.name: w for w in (CrawlTwVillages, ReleaseBuild)}

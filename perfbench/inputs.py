"""Seeded benchmark inputs, generated once per (workload, seed, size).

Every generator is a pure function of its seed: the same seed gives the same
rows.  Results are cached under ``<work>/inputs/<key>/`` behind a
``_COMPLETE`` marker that records the row count; a directory without the
marker, or whose parquet row count disagrees with it, is rebuilt.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from immich_geodata_zh_tw_spark.synth import TW_BBOX

N_FILES = 8  # scan splits: two per core on the 4-core reference box
KEEP = 12  # cached inputs kept per generator (a set of ten seeds fits)


def cached(work: Path, key: str, build) -> Path:
    """Directory for ``key``, built by ``build(tmp_dir) -> row_count`` unless
    a complete copy already exists."""
    out = work / "inputs" / key
    marker = out / "_COMPLETE"
    if marker.exists():
        rows = json.loads(marker.read_text())["rows"]
        if _parquet_rows(out) == rows:
            return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out.with_name(key + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    rows = build(tmp)
    (tmp / "_COMPLETE").write_text(json.dumps({"rows": rows}))
    tmp.rename(out)
    family = sorted(out.parent.glob(key.split("-s")[0] + "-s*"),
                    key=lambda p: p.stat().st_mtime)
    for old in family[:-KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def _parquet_rows(root: Path) -> int:
    """Rows in the files :func:`write_parquet` wrote under ``root`` (a
    workload may keep other tables beside them)."""
    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in sorted(root.glob("*/part-*.parquet")))


def write_parquet(pdf: pd.DataFrame, path: Path, n_files: int = 1) -> int:
    path.mkdir(parents=True, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        table = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
        # all-None columns would be written as parquet NULL type
        table = table.cast(pa.schema([
            f.with_type(pa.string()) if pa.types.is_null(f.type) else f
            for f in table.schema]))
        pq.write_table(table, path / f"part-{i:03d}.parquet",
                       coerce_timestamps="us")  # Spark reads no nanos
    return len(pdf)


def dims(work: Path, village_grid: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The reference tables ``synth.polygons.admin_polygons_pdf`` and
    ``synth.cities.cities_pdf`` build for ``village_grid`` (the same for
    every seed)."""
    from immich_geodata_zh_tw_spark.synth import cities, polygons

    out = cached(work, f"dims-g{village_grid}", lambda d: sum(
        write_parquet(pdf, d / name) for name, pdf in (
            ("polygons", polygons.admin_polygons_pdf(village_grid)),
            ("cities", cities.cities_pdf(village_grid)))))
    tables = read_tables(out, ("polygons", "cities"))
    return tables["polygons"], tables["cities"]


# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------

def tw_page_ids(seed: int, n: int) -> np.ndarray:
    """Row ids of the dense Taiwan crawl: the synth generator is keyed by row
    id, so the seed picks a disjoint id range."""
    start = 10_000_000 * (seed + 1)
    return np.arange(start, start + n, dtype=np.int64)


def tw_pages(work: Path, seed: int, n: int) -> Path:
    from immich_geodata_zh_tw_spark.synth.pages import pages_pdf

    return cached(work, f"tw_pages-s{seed}-n{n}", lambda d: write_parquet(
        pages_pdf(tw_page_ids(seed, n)), d / "pages", N_FILES)) / "pages"


# ---------------------------------------------------------------------------
# release inputs (GeoNames-shaped)
# ---------------------------------------------------------------------------

#: countries of the seeded cities500 table, with the ISO codes whose rows the
#: TW / KR / JP handlers replace
CITY_COUNTRIES = ["BR", "CN", "DE", "ES", "FR", "GB", "IN", "IT", "JP", "KR",
                  "MX", "TW", "US"]
RELEASE_SIZES = {"tw": 7_954, "kr": 3_554, "jp": 1_900}
KR_SIDO = ["서울특별시", "부산광역시", "대구광역시", "인천광역시", "광주광역시",
           "대전광역시", "울산광역시", "세종특별자치시", "경기도", "강원특별자치도",
           "충청북도", "충청남도", "전북특별자치도", "전라남도", "경상북도",
           "경상남도", "제주특별자치도"]


def _traditional_only() -> str:
    """Traditional characters that are not also simplified ones (and not
    裏, which the release rewrites): names made of them translate to
    themselves."""
    from immich_geodata_zh_tw_spark.functions.zh import SIMPLIFIED, TRADITIONAL

    simp = set(SIMPLIFIED)
    return "".join(dict.fromkeys(
        c for c in TRADITIONAL if c not in simp and c != "裏"))[:300]


TRADITIONAL_ONLY = _traditional_only()


def _han(rng, n: int, pool: str, length=(2, 4)) -> list[str]:
    """``n`` seeded names of Han characters drawn from ``pool``."""
    chars = np.array(list(pool))
    lens = rng.integers(length[0], length[1] + 1, n)
    picks = rng.integers(0, len(chars), lens.sum())
    out, at = [], 0
    for k in lens.tolist():
        out.append("".join(chars[picks[at:at + k]].tolist()))
        at += k
    return out


def release_tables(seed: int, n_cities: int) -> dict[str, pd.DataFrame]:
    """Every input of ``plans.release.run_release``, seeded: a cities500
    table of ``n_cities`` rows, its admin1/admin2 code tables, the raw TW
    villages / KR dongs / JP municipalities the country handlers read, the
    metadata names and the zh alternate names."""
    from immich_geodata_zh_tw_spark.functions.zh import SIMPLIFIED, TRADITIONAL
    from immich_geodata_zh_tw_spark.synth.polygons import admin_polygons_pdf

    rng = np.random.default_rng([seed, 3])
    cc = np.array(CITY_COUNTRIES)[rng.integers(0, len(CITY_COUNTRIES),
                                               n_cities)]
    ids = rng.permutation(n_cities) + 1_000_000
    lat = np.round(rng.uniform(-50.0, 65.0, n_cities), 5)
    lon = np.round(rng.uniform(-170.0, 170.0, n_cities), 5)
    han = rng.random(n_cities)
    zh_names = _han(rng, n_cities, SIMPLIFIED[:400] + TRADITIONAL[:400])
    alternates = [f"Alt{i},{z}" if h < 0.3 else (f"Alt{i}" if h < 0.5 else None)
                  for i, z, h in zip(range(n_cities), zh_names, han.tolist())]
    cities = pd.DataFrame({
        "geoname_id": ids.astype(str),
        "name": [f"Place {i}" for i in range(n_cities)],
        "asciiname": [f"Place {i}" for i in range(n_cities)],
        "alternatenames": alternates,
        "latitude": lat, "longitude": lon,
        "feature_class": "P", "feature_code": "PPL",
        "country_code": cc, "cc2": None,
        "admin1_code": [f"{k:02d}" for k in rng.integers(1, 21, n_cities)],
        "admin2_code": None, "admin3_code": None, "admin4_code": None,
        "population": rng.integers(500, 2_000_000, n_cities),
        "elevation": None, "dem": rng.integers(0, 3000, n_cities),
        "timezone": "UTC",
        "modification_date": pd.Timestamp("2025-01-01")
        + pd.to_timedelta(rng.integers(0, 365, n_cities), unit="D"),
    })
    cities["modification_date"] = cities["modification_date"].dt.date
    codes = [(c, k) for c in CITY_COUNTRIES for k in range(1, 21)]
    admin1 = pd.DataFrame({
        "id": [f"{c}.{k:02d}" for c, k in codes],
        "name": [f"{c} region {k}" for c, k in codes],
        "asciiname": [f"{c} region {k}" for c, k in codes],
        "geoname_id": [str(500_000 + i) for i in range(len(codes))]})
    n2 = max(n_cities // 50, 1)
    admin2 = pd.DataFrame({
        "id": [f"{codes[i % len(codes)][0]}.{codes[i % len(codes)][1]:02d}"
               f".{i:04d}" for i in range(n2)],
        "name": [f"District {i}" for i in range(n2)],
        "asciiname": [f"District {i}" for i in range(n2)],
        "geoname_id": [str(900_000 + i) for i in range(n2)]})
    # metadata names for a third of the rows, on their exact coordinates:
    # simplified, traditional and non-Chinese names
    meta = cities.sample(frac=1 / 3, random_state=seed)
    kind = rng.random(len(meta))
    simp = _han(rng, len(meta), SIMPLIFIED[:300])
    trad = _han(rng, len(meta), TRADITIONAL_ONLY)
    metadata = pd.DataFrame({
        "country_code": meta["country_code"].to_numpy(),
        "latitude": meta["latitude"].to_numpy(),
        "longitude": meta["longitude"].to_numpy(),
        "admin_2": [s if k < 0.45 else (t if k < 0.9 else f"Name {j}")
                    for j, (s, t, k) in enumerate(zip(simp, trad,
                                                      kind.tolist()))]})
    alt = cities.sample(frac=0.2, random_state=seed + 1)
    chinese = pd.DataFrame({
        "geoname_id": alt["geoname_id"].to_numpy(),
        "alternate_name": _han(rng, len(alt), TRADITIONAL[:300])})

    polys = admin_polygons_pdf(village_grid=20)
    pick = np.sort(rng.choice(len(polys), RELEASE_SIZES["tw"], replace=False))
    tw = polys.iloc[pick]
    villages = tw["village"].to_numpy().copy()
    villages[::50] = [v.replace("里", "裏") for v in villages[::50]]
    tw_raw = pd.DataFrame({
        "COUNTYNAME": tw["county"].to_numpy(),
        "TOWNNAME": tw["township"].to_numpy(),
        "VILLNAME": villages,
        "latitude": tw["centroid_lat"].to_numpy(),
        "longitude": tw["centroid_lon"].to_numpy()})

    n = RELEASE_SIZES["kr"]
    sido = np.array(KR_SIDO)[rng.integers(0, len(KR_SIDO), n)]
    form = rng.integers(0, 3, n)
    sgg_no = rng.integers(1, 40, n)
    sgg = [("세종시청" if f == 0 else f"{g}동") if s == "세종특별자치시"
           else (f"가{g}시나{g}구" if f == 0 else f"다{g}구" if f == 1
                 else f"라{g}군")
           for s, f, g in zip(sido.tolist(), form.tolist(), sgg_no.tolist())]
    dong = [f"마{i}동" for i in range(n)]
    kr_raw = pd.DataFrame({
        "adm_nm": [f"{a} {b} {c}" for a, b, c in zip(sido, sgg, dong)],
        "sidonm": sido, "sggnm": sgg,
        "latitude": np.round(rng.uniform(33.1, 38.6, n), 6),
        "longitude": np.round(rng.uniform(124.6, 131.9, n), 6)})

    n = RELEASE_SIZES["jp"]
    form = rng.integers(0, 4, n)
    no = rng.integers(1, 400, n)
    jp_raw = pd.DataFrame({
        "N03_001": [f"県{k:02d}" for k in rng.integers(1, 48, n)],
        "N03_003": [f"郡{g}郡" if f >= 2 else None
                    for f, g in zip(form.tolist(), no.tolist())],
        "N03_004": [f"市{g}市" if f == 0 else f"町{g}町" if f == 2
                    else f"村{g}村" if f == 1 else None
                    for f, g in zip(form.tolist(), no.tolist())],
        "N03_005": [f"区{g % 7}区" if f == 0 and g % 3 == 0 else None
                    for f, g in zip(form.tolist(), no.tolist())],
        "latitude": np.round(rng.uniform(24.0, 45.5, n), 6),
        "longitude": np.round(rng.uniform(123.0, 146.0, n), 6)})
    return {"cities": cities, "admin1": admin1, "admin2": admin2,
            "metadata": metadata, "chinese": chinese,
            "tw": tw_raw, "kr": kr_raw, "jp": jp_raw}


RELEASE_TABLES = ("cities", "admin1", "admin2", "metadata", "chinese",
                  "tw", "kr", "jp")


def release_inputs(work: Path, seed: int, n_cities: int) -> Path:
    def build(d: Path) -> int:
        return sum(write_parquet(pdf, d / name)
                   for name, pdf in release_tables(seed, n_cities).items())

    return cached(work, f"release-s{seed}-n{n_cities}", build)


def read_tables(root: Path, names) -> dict[str, pd.DataFrame]:
    return {name: pq.read_table(root / name).to_pandas() for name in names}


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------

DOC_WORDS = ("join hash row batch scan column customer filter small slow "
             "merge order vector line table data agg value key stream "
             "window a spark part group big sort query fast the").split()
DOC_LANGS = (["en", "zh", "es", "de", "fr"], [0.44, 0.15, 0.15, 0.14, 0.12])


def documents_pdf(seed: int, n: int) -> pd.DataFrame:
    """A ``documents`` table shaped like the sf test-data tables' (doc_id,
    text, lang, source, n_chars): 10–99 words from a 30-word vocabulary,
    with seeded exact duplicates (1 %) and near duplicates (3 %, one word
    replaced by ``dup``) of earlier documents."""
    rng = np.random.default_rng([seed, 4])
    words = np.array(DOC_WORDS)
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 10 and kind[i] < 0.04:
            src = texts[int(rng.integers(0, i))].split()
            if kind[i] >= 0.01:
                src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    langs, weights = DOC_LANGS
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64), "text": texts,
        "lang": rng.choice(langs, n, p=weights),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def documents(work: Path, seed: int, n: int) -> Path:
    """An sf directory holding ``documents.parquet`` (one file, as the
    driver fixtures are)."""
    return cached(work, f"docs-s{seed}-n{n}", lambda d: write_parquet(
        documents_pdf(seed, n), d / "documents.parquet"))

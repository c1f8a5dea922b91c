"""Release pack sink (S10, reference core/pack_release.py:20-81).

Driver-side post-step, not a Spark op: collect the four release data
artifacts + license files into a ``release/`` layout, stamp
``geodata-date.txt``, and archive as both zip and gztar — the exact artifact
shape Immich's geodata updater consumes.  Old release artifacts in the
output dir are removed first (reference remove_old_releases, :8-17).
The text artifacts come from the stages' driver-local parquet files, read
with pyarrow (:func:`parquet_to_tsv`), so reading them starts no Spark job.
"""

from __future__ import annotations

import shutil
from datetime import date
from pathlib import Path

import pyarrow.parquet as pq

#: release-relative destination for each logical artifact
#: (reference pack_release.py:33-43)
DATA_ARTIFACTS = {
    "countries_geojson": "geodata/ne_10m_admin_0_countries.geojson",
    "admin1_codes": "geodata/admin1CodesASCII.txt",
    "admin2_codes": "geodata/admin2Codes.txt",
    "cities500": "geodata/cities500.txt",
}


def remove_old_releases(output_dir: str | Path) -> None:
    """Delete any ``release*`` file/dir in ``output_dir`` (ref :8-17)."""
    out = Path(output_dir)
    for item in out.iterdir():
        if item.name.startswith("release"):
            if item.is_dir():
                shutil.rmtree(item)
            else:
                item.unlink()


def parquet_to_tsv(src: str | Path, dst: str | Path) -> None:
    """A stage's parquet directory as one headerless tab-separated file
    (the GeoNames text layout), read on the driver with pyarrow: rows come
    in part-file order."""
    pq.read_table(src).to_pandas().to_csv(dst, sep="\t", header=False,
                                          index=False)


def pack_release(output_dir: str | Path, *, data_files: dict[str, str | Path],
                 license_files: dict[str, str | Path] | None = None,
                 release_date: str | None = None) -> dict[str, str]:
    """Assemble + archive a release (ref pack_release.py:20-81).

    ``data_files`` maps the logical names in :data:`DATA_ARTIFACTS` to source
    paths; ``license_files`` maps release-root filenames (LICENSE, NOTICE.md)
    to sources.  ``release_date`` defaults to today (pin it for reproducible
    tests — reference stamps ``datetime.now()``).

    Returns paths of the release dir and both archives.
    """
    out = Path(output_dir)
    out.mkdir(parents=True, exist_ok=True)
    remove_old_releases(out)

    release_dir = out / "release"
    geodata_dir = release_dir / "geodata"
    geodata_dir.mkdir(parents=True)

    missing = set(DATA_ARTIFACTS) - set(data_files)
    if missing:
        raise ValueError(f"missing release artifacts: {sorted(missing)}")
    for key, rel_dst in DATA_ARTIFACTS.items():
        shutil.copy(Path(data_files[key]), release_dir / rel_dst)

    for name, src in (license_files or {}).items():
        shutil.copy(Path(src), release_dir / name)

    stamp = release_date or date.today().strftime("%Y-%m-%d")
    (geodata_dir / "geodata-date.txt").write_text(stamp)

    zip_path = shutil.make_archive(str(out / "release"), "zip", release_dir)
    tgz_path = shutil.make_archive(str(out / "release"), "gztar", release_dir)
    return {"release_dir": str(release_dir), "zip": zip_path, "gztar": tgz_path}

"""The materialized-artifact cache: the one place that knows where a fixture
or fitted model lives on disk, when it is complete and which version is
current.

Every registered query whose oracle needs a relation DuckDB cannot compute
itself (a decoded feature table, a fitted model) materializes it once as an
artifact and reads it back; the oracle reads the very same files. An
artifact is a directory

    /tmp/mb_<name>_v<version>_<sf tag>

keyed by (name, version, sf directory name) — not by a row count, so two
datasets of equal size never share a fitted model. A builder writes all of
its outputs under that one directory (a single-output artifact is itself
the parquet directory). On a miss the builder runs into a temp sibling,
the file list is recorded, and the directory is renamed into place, so an
artifact is either complete or absent: a failed build leaves nothing, and
an artifact that has lost any file since (a partial /tmp cleanup) is
rebuilt on the next call.

Oracle SQL stays a plain string: it interpolates the artifact's path at
the one pinned oracle scale, ORACLE_SF.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from collections.abc import Callable
from dataclasses import dataclass

ROOT = "/tmp"
ORACLE_SF = "sf0.01"
_CONTENTS = ".contents"  # hidden from Spark, pyarrow and DuckDB's *.parquet globs


def sf_of(sf_dir: str, default: float = 0.01) -> float:
    """The scale factor encoded in an sf directory's name (`.../sf0.1`)."""
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else default


def sf_size(sf_dir: str, per_sf: int, floor: int) -> int:
    """Row count of a synthetic fixture that scales with the sf."""
    return max(int(sf_of(sf_dir) * per_sf), floor)


def decode_fixture_n(sf_dir: str) -> int:
    """Row count of the synthetic decode fixtures (images, codec and
    transport clips, fingerprints, transcripts, the icetable)."""
    return sf_size(sf_dir, 40_000, 400)


def clip_fixture_n(sf_dir: str) -> int:
    """Row count of the synthetic per-clip scoring fixtures (PII,
    bandwidth, pitch, loudness, the QA scorecard, silence and alignment)."""
    return sf_size(sf_dir, 100_000, 1000)


def artifact_path(name: str, version: int, sf_dir: str) -> str:
    tag = os.path.basename(os.path.normpath(sf_dir))
    return f"{ROOT}/mb_{name}_v{version}_{tag}"


def _complete(path: str) -> bool:
    try:
        with open(os.path.join(path, _CONTENTS)) as fh:
            files = fh.read().splitlines()
    except OSError:
        return False
    return all(os.path.exists(os.path.join(path, f)) for f in files)


def materialize(path: str, build: Callable[[str], None]) -> str:
    """Return `path`, first running `build(out)` into a temp sibling and
    renaming it into place unless a complete artifact is already there."""
    if _complete(path):
        return path
    shutil.rmtree(path, ignore_errors=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:12]}"
    try:
        build(tmp)
        files = [
            os.path.relpath(os.path.join(d, f), tmp)
            for d, _, fs in os.walk(tmp)
            for f in fs
        ]
        if not files:
            raise RuntimeError(f"artifact build wrote nothing: {path}")
        with open(os.path.join(tmp, _CONTENTS), "w") as fh:
            fh.write("\n".join(sorted(files)))
        try:
            os.rename(tmp, path)
        except OSError:
            if not _complete(path):  # lost a race only if the winner is whole
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


@dataclass(frozen=True)
class Artifact:
    """A registered builder: `build(spark, sf_dir, out)` writes every output
    under `out`; calling the artifact returns its materialized path."""

    name: str
    version: int
    build: Callable

    def path(self, sf_dir: str = ORACLE_SF) -> str:
        return artifact_path(self.name, self.version, sf_dir)

    def scan(self, output: str = "") -> str:
        """DuckDB scan of one parquet output at the oracle scale."""
        sub = f"/{output}" if output else ""
        return f"read_parquet('{self.path()}{sub}/*.parquet')"

    def __call__(self, spark, sf_dir: str) -> str:
        return materialize(self.path(sf_dir), lambda out: self.build(spark, sf_dir, out))


ARTIFACTS: dict[str, Artifact] = {}


def artifact(name: str, version: int):
    """Register the decorated builder as artifact `name` (bump `version`
    whenever its outputs change)."""

    def deco(build: Callable) -> Artifact:
        if name in ARTIFACTS:
            raise ValueError(f"artifact {name!r} registered twice")
        ARTIFACTS[name] = Artifact(name, version, build)
        return ARTIFACTS[name]

    return deco

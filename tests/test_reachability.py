"""Every module of the package is reached by an import from a program entry
point: the driver contract, the HTTP server, the daemon, the CLI or the
scoring cycle. A module nothing imports is either wired into one of them or
deleted; the few kept for other reasons are listed with their reason.

The import graph comes from the bytecode (stdlib `modulefinder`), so no
module is executed and no Spark session starts. Only `noaa_oracle_spark`
imports are followed.
"""

from __future__ import annotations

import modulefinder
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "noaa_oracle_spark"
ENTRY_SCRIPTS = [
    "__spark_entry__.py",
    "noaa_oracle_spark/http_service.py",
    "noaa_oracle_spark/daemon.py",
    "noaa_oracle_spark/cli.py",
    "noaa_oracle_spark/etl.py",
]
UNREACHED_ON_PURPOSE = {
    "noaa_oracle_spark.reference_sql":
        "the DuckDB reference the perfbench gate and the parity tests run",
    "noaa_oracle_spark.grade_hashes":
        "grades the driver contract's answers against GRADE_HASHES.json",
    "noaa_oracle_spark.pipeline.train":
        "LLM-pipeline package; whether it stays is the owner's call",
}


class _PackageFinder(modulefinder.ModuleFinder):
    """Follows imports into the package only."""

    def import_module(self, partname, fqname, parent):
        if fqname.split(".")[0] != PACKAGE:
            return None
        return super().import_module(partname, fqname, parent)


def _package_modules() -> set[str]:
    out = set()
    for root, _dirs, files in os.walk(os.path.join(REPO, PACKAGE)):
        for name in files:
            if not name.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, name), REPO)[:-3]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts.pop()
            out.add(".".join(parts))
    return out


def test_every_package_module_is_reached_from_an_entry_point():
    finder = _PackageFinder(path=[REPO])
    reached = set()
    for script in ENTRY_SCRIPTS:
        finder.run_script(os.path.join(REPO, script))
        reached.add(script[:-3].replace("/", "."))
    reached |= {m for m in finder.modules if m.startswith(PACKAGE)}

    modules = _package_modules()
    assert set(UNREACHED_ON_PURPOSE) <= modules
    unreached = modules - reached - set(UNREACHED_ON_PURPOSE)
    assert not unreached, (
        f"modules no entry point imports: {sorted(unreached)}"
    )

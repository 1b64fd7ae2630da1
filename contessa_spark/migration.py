"""Schema-version migrations for the parquet result layout.

Spark-native re-expression of the reference's alembic flow:
``MigrationsResolver`` (contessa/migration.py:7-132) maps package
versions to revisions with closest-≤-version fallback and resolves an
(upgrade|downgrade, revision) command to head;
contessa/migration_runner.py:14-65 then applies it with alembic. Here
the "alembic version table" is the ``schema_version.json`` marker under
a pipeline ``base_path``, revisions are small integers, and each step
is a driver-side rewrite of the TINY control tables (lineage /
quality) — the data-plane output table is never rewritten by a
migration (at 100 TB that would be a job, not a migration; additive
column changes there are Iceberg schema evolution, metadata-only).

Concrete layout history:
  v1  r2 layout — lineage rows carry per-bucket counts only
  v2  lineage rows also carry ``input_fp``, the input-listing
      fingerprint, making every checkpoint row auditable against the
      input it was computed from (not just the base-level marker)
"""

from __future__ import annotations

import json
import os
from typing import Dict, Optional, Tuple

#: package version → schema_version, the analogue of the reference's
#: ``migration_map`` ({'0.1.4': '54f8985b0ee5', ...})
VERSIONS_MIGRATIONS: Dict[str, int] = {
    "0.1.0": 1,
    "0.2.0": 2,
}

MARKER_NAME = "schema_version.json"


def _pv(v: str) -> tuple:
    """Minimal dotted-version parse (no external packaging dep).
    Tolerates non-numeric suffixes the way ``packaging.parse`` would
    order them coarsely: each component sorts by (leading digits, rest)
    — so ``0.2.0rc1`` parses instead of crashing and sorts after
    ``0.2.0`` only via its suffix string (close enough for the
    closest-≤ fallback walk, which only needs a total order)."""
    import re

    parts = []
    for x in v.split("."):
        m = re.match(r"(\d*)(.*)", x)
        parts.append((int(m.group(1) or 0), m.group(2)))
    return tuple(parts)


class MigrationsResolver:
    """Reference-parity resolution (contessa/migration.py:7-132) over
    the marker file instead of the alembic version table."""

    def __init__(
        self,
        versions_migrations: Dict[str, int],
        package_version: str,
        base_path: str,
    ):
        self.versions_migrations = versions_migrations
        self.package_version = package_version
        self.base = base_path

    # -- state ------------------------------------------------------
    def _marker(self) -> str:
        return os.path.join(self.base, MARKER_NAME)

    def migrations_table_exists(self) -> bool:
        return os.path.exists(self._marker())

    def get_applied_migration(self) -> Optional[int]:
        """The applied schema_version, or None when no marker exists.
        A marker that EXISTS but lacks a valid integer version is a
        corrupt control file — raising beats the downstream
        ``None < target`` TypeError it used to become."""
        if not self.migrations_table_exists():
            return None
        with open(self._marker()) as f:
            try:
                found = json.load(f).get("schema_version")
            except ValueError as exc:
                raise ValueError(
                    f"corrupt schema-version marker at {self._marker()}: "
                    f"not valid JSON ({exc})"
                ) from exc
        if not isinstance(found, int) or isinstance(found, bool):
            raise ValueError(
                f"corrupt schema-version marker at {self._marker()}: "
                f"schema_version={found!r} is not an integer — restore the "
                "marker or remove it to re-stamp via migrate()"
            )
        return found

    # -- resolution (same shape as the reference) -------------------
    def get_fallback_version(self) -> str:
        """Closest mapped package version ≤ ours (clamped to the map's
        ends) — contessa/migration.py:79-104 semantics."""
        keys = list(self.versions_migrations.keys())
        if self.package_version in self.versions_migrations:
            return self.package_version
        if _pv(self.package_version) < _pv(keys[0]):
            return keys[0]
        if _pv(self.package_version) > _pv(keys[-1]):
            return keys[-1]
        result = keys[0]
        for k in keys[1:]:
            if _pv(k) <= _pv(self.package_version):
                result = k
            else:
                return result
        return result

    def is_on_head(self) -> bool:
        if not self.migrations_table_exists():
            return False
        return (
            self.versions_migrations[self.get_fallback_version()]
            == self.get_applied_migration()
        )

    def get_migration_to_head(self) -> Optional[Tuple[str, int]]:
        """(direction, target schema_version) or None when on head."""
        if self.is_on_head():
            return None
        target = self.versions_migrations[self.get_fallback_version()]
        if not self.migrations_table_exists():
            return ("upgrade", target)
        applied = self.get_applied_migration()
        if applied < target:
            return ("upgrade", target)
        if applied > target:
            return ("downgrade", target)
        return None


# ---------------------------------------------------------------- steps

def _lineage_dirs(base_path: str):
    return [
        os.path.join(base_path, "lineage"),
        os.path.join(base_path, "lineage_validate"),
    ]


def _upgrade_to_2(base_path: str) -> None:
    """v1 → v2: lineage gains the ``input_fp`` string column (None for
    rows written before fingerprints existed)."""
    from contessa_spark.pipeline import LINEAGE_KEY
    from contessa_spark.results import LocalSmallTableMerge

    for d in _lineage_dirs(base_path):
        pdf = LocalSmallTableMerge.read(d)
        if pdf is None or "input_fp" in pdf.columns:
            continue
        pdf["input_fp"] = None
        pdf["input_fp"] = pdf["input_fp"].astype("object")
        LocalSmallTableMerge.merge(pdf, d, LINEAGE_KEY)


def _downgrade_from_2(base_path: str) -> None:
    from contessa_spark.pipeline import LINEAGE_KEY
    from contessa_spark.results import LocalSmallTableMerge

    for d in _lineage_dirs(base_path):
        pdf = LocalSmallTableMerge.read(d)
        if pdf is None or "input_fp" not in pdf.columns:
            continue
        LocalSmallTableMerge.merge(pdf.drop(columns=["input_fp"]), d, LINEAGE_KEY)


#: step n: (upgrade (n-1)→n, downgrade n→(n-1))
MIGRATION_STEPS = {
    2: (_upgrade_to_2, _downgrade_from_2),
}


def migrate(base_path: str, package_version: Optional[str] = None) -> int:
    """Bring ``base_path``'s result-table layout to the head revision
    for ``package_version`` (default: the installed package) — the
    analogue of ``migration_runner.main`` applying alembic's
    upgrade/downgrade chain. Returns the schema_version now applied.
    """
    from contessa_spark import __version__

    resolver = MigrationsResolver(
        VERSIONS_MIGRATIONS, package_version or __version__, base_path
    )
    cmd = resolver.get_migration_to_head()
    if cmd is None:
        return resolver.get_applied_migration()
    direction, target = cmd
    applied = resolver.get_applied_migration()
    if applied is None:
        # marker-less base: pre-marker layouts (r1) are v1; an empty
        # base has nothing to rewrite — stamping the target suffices
        applied = 1 if any(os.path.exists(d) for d in _lineage_dirs(base_path)) else target
    if direction == "upgrade":
        for v in range(applied + 1, target + 1):
            MIGRATION_STEPS[v][0](base_path)
    else:
        for v in range(applied, target, -1):
            MIGRATION_STEPS[v][1](base_path)
    os.makedirs(base_path, exist_ok=True)
    with open(os.path.join(base_path, MARKER_NAME), "w") as f:
        json.dump({"schema_version": target}, f)
    return target

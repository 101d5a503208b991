"""Schema evolution (reference operator A8).

Reference behavior (docs/design.md:434-437, docs/plan.md:174-176):
a field first seen mid-sync is added to the table schema as an optional
column when the mapping mode is ``auto`` (Iceberg
``updateSchema().addColumn()`` — metadata-only); in ``explicit`` mode
the new field is logged and skipped. A type CONFLICT on an existing
path follows the same promotion rule as inference (A7): the column is
promoted to string-as-JSON (schema_infer._merge).

Spark-first shape: evolution is a pure function over schemas — the
diff of two inferred union schemas — so it is unit-testable without a
table, and applying it to the parquet-MoR store is a by-name union of
commits, each read with the schema its manifest records. With Iceberg jars it becomes
``ALTER TABLE ... ADD COLUMN`` (metadata-only), same decision logic.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from .schema_infer import _merge

logger = logging.getLogger(__name__)


@dataclass
class EvolutionPlan:
    """Outcome of diffing the table schema against a batch's schema."""

    added: list[tuple[str, str]] = field(default_factory=list)  # (path, type)
    promoted: list[tuple[str, str, str]] = field(default_factory=list)  # (path, old, new)
    skipped: list[str] = field(default_factory=list)  # explicit mode: ignored paths
    merged: tuple = ("struct", {})  # the evolved internal-lattice schema

    @property
    def changed(self) -> bool:
        return bool(self.added or self.promoted)


def _type_name(t) -> str:
    if isinstance(t, tuple):
        return t[0]  # "struct" | "array"
    return t


def _walk_diff(old, new, prefix: str, plan: EvolutionPlan, auto: bool):
    """Recursive field diff of two ("struct", {name: type}) nodes."""
    old_fields = old[1] if isinstance(old, tuple) and old[0] == "struct" else {}
    new_fields = new[1] if isinstance(new, tuple) and new[0] == "struct" else {}
    for name, ntype in sorted(new_fields.items()):
        path = f"{prefix}.{name}" if prefix else name
        if name not in old_fields:
            if auto:
                plan.added.append((path, _type_name(ntype)))
            else:
                plan.skipped.append(path)
            continue
        otype = old_fields[name]
        if otype == ntype:
            continue
        merged = _merge(otype, ntype)
        if (
            isinstance(merged, tuple)
            and isinstance(otype, tuple)
            and merged[0] == otype[0] == "struct"
        ):
            _walk_diff(otype, ntype, path, plan, auto)
        elif merged != otype:
            # widening (long->double) or conflict promotion (-> string)
            plan.promoted.append((path, _type_name(otype), _type_name(merged)))


def evolve(table_schema, batch_schema, mode: str = "auto") -> EvolutionPlan:
    """Diff + merge two internal-lattice schemas (schema_infer types).

    auto: new paths are added, conflicts promote (string-as-JSON) —
    the merged schema is the union. explicit: the table schema is
    frozen; new paths are recorded as skipped and the merged schema is
    the old one unchanged (reference: "log and skip").
    """
    auto = mode == "auto"
    plan = EvolutionPlan()
    _walk_diff(table_schema, batch_schema, "", plan, auto)
    plan.merged = _merge(table_schema, batch_schema) if auto else table_schema
    for path in plan.skipped:
        logger.warning("explicit mapping: ignoring new field %s", path)
    return plan

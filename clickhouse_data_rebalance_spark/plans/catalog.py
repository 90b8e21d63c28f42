"""Catalog lifecycle: deterministic table versioning + online swap.

Re-expresses the reference's whole Tier-A surface (SURVEY.md §2.1) in
Spark catalog operations:

- version naming  — reference: ``new_table_names[old] = old + str(random
  .randint(1,10))`` (sharding_recreation.py:44-46, config.py:17 — random,
  collision-prone). Here: explicit deterministic token,
  ``{name}__v{token}``, never derived from name substrings.
- create-if-not-exists — sharding_recreation.py:110-130 (A7/B4).
- EXISTS probe — sharding_recreation.py:216-217, 236-237 (A11) →
  ``spark.catalog.tableExists``.
- rename dance — create new → rename old aside → rename new into place →
  drop old (sharding_recreation.py:306-335, A9/A10/A12/B3). Spark's
  catalog has no multi-table transaction, so the swap is ordered +
  guarded exactly like the reference's, and the non-atomic window is
  documented here rather than hidden.

Unlike the reference there is no ``ON CLUSTER`` fan-out (A4) or SSH
introspection (A16): the Spark catalog is already cluster-global; DDL
runs once on the driver.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def versioned_name(name: str, token: str) -> str:
    """Deterministic version name — replaces the reference's random digit."""
    if not token or not token.replace("_", "").isalnum():
        raise ValueError(f"version token must be alphanumeric, got {token!r}")
    return f"{name}__v{token}"


def old_name(name: str) -> str:
    return f"{name}__old"


def list_tables(spark: SparkSession, db: str | None = None) -> list[str]:
    """A1: enumerate table names (reference: SELECT name FROM system.tables)."""
    return [t.name for t in spark.catalog.listTables(db)]


def table_exists(spark: SparkSession, name: str) -> bool:
    """A11: EXISTS probe."""
    return spark.catalog.tableExists(name)


def show_create(spark: SparkSession, name: str) -> str:
    """A2: extract DDL. Regenerated from catalog state, never string-surgery."""
    return spark.sql(f"SHOW CREATE TABLE {name}").collect()[0][0]


def snapshot(
    spark: SparkSession, name: str, token: str, location: str | None = None
) -> str:
    """Create a versioned physical copy of ``name`` (A5–A7 analog).

    Idempotent: IF NOT EXISTS semantics via an explicit exists-probe, like
    the reference forces into every rewritten CREATE
    (sharding_recreation.py:72-73, 84-85, 94-96).
    """
    vname = versioned_name(name, token)
    if table_exists(spark, vname):
        return vname
    writer = spark.table(name).write.mode("errorifexists")
    if location:
        writer = writer.option("path", f"{location.rstrip('/')}/{vname}")
    writer.saveAsTable(vname)
    return vname


def swap(spark: SparkSession, name: str, token: str, keep_old: bool = True) -> None:
    """Online swap: versioned table takes over the logical name.

    Ordering mirrors the reference's phases 4-5 (sharding_recreation.py:
    321-330): rename old aside, then rename new into place, each guarded
    by an EXISTS probe. NON-ATOMIC: between the two renames a reader of
    ``name`` errors; the reference has the identical window (its renames
    are two separate cluster-wide DDLs). Keep the window small — both
    renames are metadata-only.

    Crash recovery (B3 failure mode, undocumented in the reference): a
    crash between the two renames leaves the catalog with ``name`` GONE,
    ``{name}__old`` = the previous data, ``{name}__v{token}`` = the new
    data — every state survives (both renames are durable metastore
    updates; no data files move). The state is unambiguous, so recovery
    is mechanical: ``recover_swap`` rolls FORWARD (completes the second
    rename — the versioned table was already validated before the swap
    began), after which ``drop_versions`` GCs ``__old`` exactly as in
    the non-crashed path. A crash after the second rename needs no
    repair at all: ``swap`` re-invoked is a no-op-with-error on the
    missing ``vname``, and ``drop_versions`` still GCs ``__old``.
    """
    vname = versioned_name(name, token)
    oname = old_name(name)
    if not table_exists(spark, vname):
        raise ValueError(f"no versioned table {vname} to swap in")
    if table_exists(spark, name):
        if table_exists(spark, oname):
            spark.sql(f"DROP TABLE {oname}")
        spark.sql(f"ALTER TABLE {name} RENAME TO {oname}")
    spark.sql(f"ALTER TABLE {vname} RENAME TO {name}")
    if not keep_old and table_exists(spark, oname):
        spark.sql(f"DROP TABLE {oname}")


def recover_swap(spark: SparkSession, name: str, token: str) -> str:
    """Repair an interrupted ``swap`` (crash between its two renames).

    Detects the mid-swap state — ``name`` missing while the versioned
    and/or ``__old`` side-tables exist — and rolls forward: the
    versioned table completes its rename into place (it was validated
    before the swap started, so forward is always the right direction;
    the previous data remains in ``{name}__old`` for ``drop_versions``).
    If only ``__old`` survives (versioned table lost), rolls back so
    ``name`` resolves again. Idempotent: any already-consistent state
    returns unchanged.

    Returns one of: ``"consistent"`` (nothing to do), ``"forward"``
    (completed the swap), ``"rollback"`` (restored the old table).
    """
    vname = versioned_name(name, token)
    oname = old_name(name)
    if table_exists(spark, name):
        return "consistent"
    if table_exists(spark, vname):
        spark.sql(f"ALTER TABLE {vname} RENAME TO {name}")
        return "forward"
    if table_exists(spark, oname):
        spark.sql(f"ALTER TABLE {oname} RENAME TO {name}")
        return "rollback"
    raise ValueError(
        f"unrecoverable: none of {name}, {vname}, {oname} exist in the catalog"
    )


def drop_versions(spark: SparkSession, name: str, tokens: list[str] | None = None) -> int:
    """A12: DROP TABLE IF EXISTS for versioned/old tables.

    With explicit ``tokens`` drops those versions; otherwise drops the
    ``__old`` side-table (the reference's phase-8 GC,
    sharding_recreation.py:194-209 — but keyed on explicit metadata, not
    the reference's name-contains-digit heuristic, :198).
    """
    dropped = 0
    targets = (
        [versioned_name(name, t) for t in tokens] if tokens else [old_name(name)]
    )
    for t in targets:
        if table_exists(spark, t):
            spark.sql(f"DROP TABLE {t}")
            dropped += 1
    return dropped

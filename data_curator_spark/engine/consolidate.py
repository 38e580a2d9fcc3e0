"""Multi-source table consolidation / reconciliation kernel.

Re-expresses the reference's provider-merge machinery
(reference: src/kaxanuk/data_curator/services/data_provider_toolkit.py)
Spark-first:

- N-way outer PK merge + left-outer alignment + first-non-null coalesce
  (reference :227-529) → chained ``join`` + ``F.coalesce``.
- Null-safe missing-rows mask (reference :571-756, 186 LoC of manual
  null-pattern hashing) → a single ``eqNullSafe`` left-anti join.
- Duplicate-PK detection (reference :1556-1567).
- Pairwise cross-endpoint discrepancy scan → quarantine table
  (reference :365-476, 1018-1072).
- Row nullify by PK — the "null-out-and-retry" repair
  (reference :1271-1382; retry loop financial_modeling_prep.py:672-688).

Scale notes: endpoint tables of one logical dataset share the PK, so the
whole consolidation is shuffles on the PK only; AQE handles skewed PKs.
No join carries a hint: the session's byte threshold broadcasts a small
endpoint table (events like dividends/splits) on its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_pk_rows(df: DataFrame, pk: list[str]) -> DataFrame:
    """Rows of ``pk`` values appearing more than once
    (data_provider_toolkit.py:1556-1567)."""
    return df.groupBy(*pk).count().filter(F.col("count") > 1)


def missing_rows(common: DataFrame, subset: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``common`` absent from ``subset``, null-safe on every key.

    The reference builds per-column null-pattern hashes + fill-null + a
    multi-key join indicator (data_provider_toolkit.py:571-756); Spark's
    ``eqNullSafe`` (SQL ``<=>``) collapses all of it into one anti-join.
    """
    cond = None
    for k in keys:
        c = common[k].eqNullSafe(subset[k])
        cond = c if cond is None else (cond & c)
    return common.join(subset, on=cond, how="left_anti")


def coalescing_merge(endpoints: list[DataFrame], pk: list[str]) -> DataFrame:
    """N-way outer combine: union of PKs, left-align every endpoint,
    first-non-null-wins per shared field (data_provider_toolkit.py:227-529).

    Column precedence follows endpoint order, as in the reference's
    coalesce across endpoint arrays (:519).
    """
    if not endpoints:
        raise ValueError("no endpoint tables")
    # drop all-null columns (reference rejects them at :266-279)
    master = endpoints[0].select(*pk)
    for ep in endpoints[1:]:
        master = master.unionByName(ep.select(*pk))
    master = master.dropDuplicates(pk)

    aligned = master
    field_sources: dict[str, list[str]] = {}
    for i, ep in enumerate(endpoints):
        cols = [c for c in ep.columns if c not in pk]
        renamed = ep.select(*pk, *[F.col(c).alias(f"__ep{i}__{c}") for c in cols])
        aligned = aligned.join(renamed, on=pk, how="left")
        for c in cols:
            field_sources.setdefault(c, []).append(f"__ep{i}__{c}")

    out_cols = [F.col(k) for k in pk]
    for field, sources in field_sources.items():
        expr = F.coalesce(*[F.col(s) for s in sources]) if len(sources) > 1 else F.col(sources[0])
        out_cols.append(expr.alias(field))
    return aligned.select(*out_cols)


def discrepancy_scan(
    endpoints: list[DataFrame], pk: list[str]
) -> DataFrame:
    """Pairwise compare every column shared by ≥2 endpoints on common
    rows; equal-or-both-null passes; emit a conflict/quarantine table
    (data_provider_toolkit.py:365-476; debug table :1018-1072).

    Output: one row per (pk..., field, endpoint_a, endpoint_b, value_a,
    value_b) conflict, values stringified for a uniform schema.
    """
    conflicts: list[DataFrame] = []
    spark_pk_cols = [F.col(k) for k in pk]
    for i in range(len(endpoints)):
        for j in range(i + 1, len(endpoints)):
            a, b = endpoints[i], endpoints[j]
            shared = [
                c for c in a.columns if c in b.columns and c not in pk
            ]
            if not shared:
                continue
            aj = a.select(*pk, *[F.col(c).alias(f"__a_{c}") for c in shared])
            bj = b.select(*pk, *[F.col(c).alias(f"__b_{c}") for c in shared])
            joined = aj.join(bj, on=pk, how="inner")
            for c in shared:
                bad = joined.filter(
                    ~F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
                ).select(
                    *spark_pk_cols,
                    F.lit(c).alias("field"),
                    F.lit(i).alias("endpoint_a"),
                    F.lit(j).alias("endpoint_b"),
                    F.col(f"__a_{c}").cast("string").alias("value_a"),
                    F.col(f"__b_{c}").cast("string").alias("value_b"),
                )
                conflicts.append(bad)
    if not conflicts:
        raise ValueError("no shared columns to scan")
    out = conflicts[0]
    for c in conflicts[1:]:
        out = out.unionByName(c)
    return out


def clear_rows_by_pk(
    df: DataFrame, bad_pks: DataFrame, pk: list[str], preserve: list[str] | None = None
) -> DataFrame:
    """Null every non-preserved column on rows whose PK appears in
    ``bad_pks`` — the discrepancy-repair step
    (data_provider_toolkit.py:1271-1382; wrapper :182-224).

    ``bad_pks`` is usually small (a conflict set); the session's byte
    threshold broadcasts it then, and shuffles it when it is not.
    """
    preserve = set(preserve or []) | set(pk)
    marked = df.join(
        bad_pks.select(*pk).dropDuplicates(pk).withColumn("__bad", F.lit(True)),
        on=pk,
        how="left",
    )
    out_cols = []
    for c in df.columns:
        if c in preserve:
            out_cols.append(F.col(c))
        else:
            out_cols.append(F.when(F.col("__bad").isNull(), F.col(c)).alias(c))
    return marked.select(*out_cols)


def consolidate_with_repair(
    endpoints: list[DataFrame], pk: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Full consolidation with graceful repair: scan for discrepancies,
    null out conflicting rows in every endpoint, then merge
    (financial_modeling_prep.py:672-688 null-out-and-retry, done here in
    one pass instead of a retry loop).

    Returns (merged, quarantine).
    """
    quarantine = discrepancy_scan(endpoints, pk)
    bad = quarantine.select(*pk).dropDuplicates(pk)
    repaired = [clear_rows_by_pk(ep, bad, pk) for ep in endpoints]
    return coalescing_merge(repaired, pk), quarantine

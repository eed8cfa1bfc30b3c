"""Transaction store (SURVEY.md §2.1 S5-S7, §2.4 J1-J2, §2.2 P11/P13):
fingerprinting, existing-wins dedup, upsert, canonical ordering — on plain
Parquet, pure DataFrame ops.

Behavioral spec: /root/reference/panda.py:596-745. The reference uses a
DuckDB table with `INSERT ... ON CONFLICT (fingerprint) DO UPDATE`; here the
same exactly-once semantics come from a fingerprint equi-key MERGE rewritten
as anti-join + union.

Scale notes (100 TB):
  - fingerprint is a deterministic sha2 over the natural key → upsert joins
    are equi-joins, broadcastable when a batch is small vs the store.
  - "existing wins" dedup uses a window over the natural key with an
    explicit priority, never dropDuplicates (which keeps an arbitrary row).
  - sequential transaction_id is a *global* ordering — inherently serial.
    We keep the semantic via two-phase numbering: per-partition counts →
    cumulative offsets broadcast back (zipWithIndex-style) — no single-
    partition window bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions import fingerprint, from_cents, to_cents
from .operators import latest_per_key, sequential_ids
from .session import _hadoop_fs, read_parquet

NATURAL_KEY = ["account", "book_date", "valuta_date", "party", "book_text", "purpose", "amount"]
CANONICAL_ORDER = ["book_date", "account", "valuta_date", "party", "purpose"]

TRANSACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.LongType(), False),
        T.StructField("account", T.StringType(), False),
        T.StructField("book_date", T.DateType(), False),
        T.StructField("valuta_date", T.DateType(), False),
        T.StructField("party", T.StringType(), True),
        T.StructField("book_text", T.StringType(), True),
        T.StructField("purpose", T.StringType(), True),
        T.StructField("amount_cents", T.LongType(), False),
        T.StructField("balance_cents", T.LongType(), True),
        T.StructField("transfer_category", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("category_manual", T.StringType(), True),
        T.StructField("fingerprint", T.StringType(), False),
        T.StructField("imported_at", T.TimestampType(), True),
    ]
)


def with_fingerprint(df: DataFrame) -> DataFrame:
    """Attach the natural-key SHA-256 (expects amount_cents present)."""
    return df.withColumn("fingerprint", fingerprint())


def merge_import(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """Append a parsed batch to the working set, existing row winning on
    natural-key collision, then canonical sort. Mirrors concat +
    drop_duplicates(subset=natural_key) + sort_values — but deterministic:
    a window with an explicit priority picks the survivor, because Spark's
    dropDuplicates keeps an arbitrary row.
    """
    # latest_per_key keeps the highest _prio per key: the existing row
    tagged = existing.withColumn("_prio", F.lit(1)).unionByName(
        incoming.withColumn("_prio", F.lit(0)), allowMissingColumns=True
    )
    return latest_per_key(tagged, NATURAL_KEY, ["_prio"]).drop("_prio")


def assign_ids(df: DataFrame, next_id: int = 1) -> DataFrame:
    """Sequential transaction_id in canonical order, starting at next_id —
    the shared two-phase numbering operator (operators.sequential_ids):
    range-partition, number per partition in parallel, add broadcast
    prefix offsets. No single-partition window."""
    return sequential_ids(df, CANONICAL_ORDER, alias="transaction_id", start=next_id)


def prepare_for_store(df: DataFrame, next_id: int = 1) -> DataFrame:
    """Working-set frame (euro floats) → storage frame: cents encode,
    fingerprint, id assignment, canonical column set."""
    out = df.withColumn("amount_cents", to_cents("amount")).withColumn(
        "balance_cents", to_cents("balance")
    )
    out = with_fingerprint(out)
    out = assign_ids(out, next_id=next_id)
    cols = [f.name for f in TRANSACTIONS_SCHEMA.fields if f.name != "imported_at"]
    for c in ("transfer_category", "category", "category_manual"):
        if c not in out.columns:
            out = out.withColumn(c, F.lit(None).cast("string"))
    return out.select(*cols).withColumn("imported_at", F.current_timestamp())


def upsert(store: DataFrame, batch: DataFrame) -> DataFrame:
    """Fingerprint-keyed MERGE semantics on plain DataFrames: matched rows
    take the batch's derived fields (categories, balance) but KEEP the
    store's transaction_id and imported_at; unmatched rows insert whole.

    Equivalent to the reference's ON CONFLICT (fingerprint) DO UPDATE.
    An equi-join on a sha2 key distributes evenly (no skew by construction).
    """
    updated_cols = ["transfer_category", "category", "category_manual", "balance_cents"]
    b_flagged = batch.select(
        "fingerprint", *[F.col(c).alias(f"_new_{c}") for c in updated_cols]
    ).withColumn("_has_match", F.lit(True))
    joined = store.join(b_flagged, "fingerprint", "left")
    # ON CONFLICT DO UPDATE overwrites with EXCLUDED values even when NULL,
    # so gate on the match flag, not coalesce.
    kept = [
        (
            F.when(F.col("_has_match"), F.col(f"_new_{c}")).otherwise(F.col(c)).alias(c)
            if c in updated_cols
            else F.col(c)
        )
        for c in store.columns
    ]
    updated_store = joined.select(*kept)
    inserts = batch.join(store.select("fingerprint"), "fingerprint", "left_anti")
    return updated_store.unionByName(inserts.select(*store.columns))


# --- atomic versioned commit ------------------------------------------------
#
# The reference's store is a DuckDB file: every `INSERT ... ON CONFLICT`
# commits atomically (panda.py:713-728) and a crashed import can't destroy
# already-committed rows. Plain `mode("overwrite")` parquet has neither
# property: a failure mid-overwrite leaves the ONLY copy of the store
# half-deleted. The substitute here is a versioned snapshot layout:
#
#   <root>/v000001/  ... parquet snapshot (+ _SUCCESS commit marker)
#   <root>/v000002/  ...
#
# A writer NEVER touches the live snapshot: it writes a fresh vN+1
# directory and the job-commit `_SUCCESS` marker (written last by Spark's
# FileOutputCommitter) IS the atomic commit point. Readers resolve
# "current" = highest version whose `_SUCCESS` exists, so a crashed write
# leaves an ignorable garbage directory, not a broken store. This is the
# same marker protocol Spark/Hadoop use for job commit, works on any
# Hadoop filesystem, and is what Delta/Iceberg formalize with a log —
# they remain the drop-in upgrade behind this interface. Single-writer by
# design (as is the reference's CLI); concurrent writers need the
# Delta/Iceberg optimistic-commit path.

_VERSION_WIDTH = 6


def _version_dirs(spark: SparkSession, root: str) -> dict[int, bool]:
    """{version -> committed?} for every vNNNNNN child of root."""
    fs, Path = _hadoop_fs(spark, root)
    root_path = Path(root)
    if not fs.exists(root_path):
        return {}
    out: dict[int, bool] = {}
    for st in fs.listStatus(root_path):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v") and name[1:].isdigit():
            marker = Path(f"{root}/{name}/_SUCCESS")
            out[int(name[1:])] = bool(fs.exists(marker))
    return out


def latest_commit_path(spark: SparkSession, root: str) -> str | None:
    """Path of the current (highest committed) snapshot, or None if the
    store is empty. A plain parquet directory (legacy layout, no vN
    children) resolves to itself."""
    versions = _version_dirs(spark, root)
    committed = [v for v, ok in versions.items() if ok]
    if committed:
        return f"{root}/v{max(committed):0{_VERSION_WIDTH}d}"
    if versions:
        return None  # only garbage (uncommitted) versions present
    fs, Path = _hadoop_fs(spark, root)
    if fs.exists(Path(root)):
        return root
    return None


def commit_snapshot(
    df: DataFrame, root: str, partition_by: list[str] | None = None
) -> str:
    """Write df as the next snapshot version and return its path. The
    write goes to a brand-new directory (never the live one), so failure
    at any point leaves the previous snapshot untouched and readable."""
    spark = df.sparkSession
    versions = _version_dirs(spark, root)
    nxt = max(versions, default=0) + 1
    target = f"{root}/v{nxt:0{_VERSION_WIDTH}d}"
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(target)
    return target


def gc_snapshots(spark: SparkSession, root: str) -> list[int]:
    """Drop all but the newest two committed snapshots plus any garbage
    (uncommitted) versions older than the current one. Returns dropped
    version numbers."""
    versions = _version_dirs(spark, root)
    committed = sorted(v for v, ok in versions.items() if ok)
    if not committed:
        return []
    current = committed[-1]
    keep_set = set(committed[-2:])
    fs, Path = _hadoop_fs(spark, root)
    dropped = []
    for v, ok in sorted(versions.items()):
        if v in keep_set or (not ok and v > current):
            continue  # live window, or a write possibly in flight
        fs.delete(Path(f"{root}/v{v:0{_VERSION_WIDTH}d}"), True)
        dropped.append(v)
    return dropped


def write_store(df: DataFrame, path: str) -> None:
    """Persist the canonical table as a new committed snapshot (atomic —
    see the versioned-commit notes above). Partitioned by year(book_date)
    so the analysis queries (all year-filtered) get partition pruning;
    sorted within partitions for stable output and better parquet RLE."""
    out = df.withColumn("book_year", F.year("book_date"))
    out = out.sortWithinPartitions(*CANONICAL_ORDER)
    commit_snapshot(out, path, partition_by=["book_year"])


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    *,
    matched_update: dict[str, str] | None = None,
    matched_delete: str | None = None,
    not_matched_insert: dict[str, str] | bool = True,
    not_matched_insert_condition: str | None = None,
    not_matched_by_source_delete: str | None = None,
) -> DataFrame:
    """General multi-clause MERGE on plain DataFrames (Delta/Iceberg
    `MERGE INTO` semantics, reference seam: panda.py:713-728's ON CONFLICT
    generalized):

      MERGE INTO target t USING source s ON <keys equal>
        WHEN MATCHED AND <matched_delete>            THEN DELETE
        WHEN MATCHED                                 THEN UPDATE SET <matched_update>
        WHEN NOT MATCHED [BY TARGET]
          AND <not_matched_insert_condition>         THEN INSERT <not_matched_insert>
        WHEN NOT MATCHED BY SOURCE AND <..._delete>  THEN DELETE

    Expressions are SQL strings over the aliases `t` (target) and `s`
    (source) — e.g. ``{"qty": "t.qty + s.qty"}``. `not_matched_insert`
    may be True (insert source values for same-named columns, NULL
    elsewhere), False (drop unmatched source rows), or an explicit
    column->expression map over `s`.

    Like Delta, a target row must match at most ONE source row, or the
    update is ambiguous — callers dedupe the source on the key first
    (`latest_per_key` is the standard pre-step). The result is the merged
    target relation, lazily; durability comes from committing it through
    `commit_snapshot` (same protocol as `upsert_to_path`).

    Plan shape at 100 TB: ONE full-outer equi-join shuffle on the merge
    keys carries all four clauses; every clause is a projection/filter on
    that join (no second pass over either side), and AQE broadcasts the
    source leg when it is dim-sized.
    """
    for k in on:
        if k not in target.columns or k not in source.columns:
            raise ValueError(f"merge key {k!r} missing from target or source")
    out_cols = target.columns
    t = target.withColumn("_t_present", F.lit(True)).alias("t")
    s = source.withColumn("_s_present", F.lit(True)).alias("s")
    cond = None
    for k in on:
        c = F.col(f"t.{k}") == F.col(f"s.{k}")
        cond = c if cond is None else (cond & c)
    j = t.join(s, cond, "full_outer")
    matched = F.col("_t_present").isNotNull() & F.col("_s_present").isNotNull()
    t_only = F.col("_t_present").isNotNull() & F.col("_s_present").isNull()
    s_only = F.col("_t_present").isNull() & F.col("_s_present").isNotNull()

    upd = {c: F.expr(e) for c, e in (matched_update or {}).items()}
    # a NULL delete-condition means "don't delete" (SQL three-valued logic:
    # the WHEN clause doesn't fire), so coalesce before negating
    _no = lambda e: ~F.coalesce(F.expr(e or "false"), F.lit(False))  # noqa: E731
    if not_matched_insert is True:
        ins_exprs = {c: f"s.{c}" for c in out_cols if c in source.columns}
    elif not_matched_insert is False:
        ins_exprs = None
    else:
        ins_exprs = dict(not_matched_insert)

    # the three row classes of a full-outer join are disjoint, so ONE
    # filter + ONE 3-way CASE projection realizes every clause without
    # re-executing the join (union-of-filters would run it twice)
    keep = (matched & _no(matched_delete)) | (t_only & _no(not_matched_by_source_delete))
    if ins_exprs is not None:
        ins_ok = F.coalesce(
            F.expr(not_matched_insert_condition or "true"), F.lit(False)
        )
        keep = keep | (s_only & ins_ok)
    ttypes = dict(target.dtypes)

    def _out(c: str) -> F.Column:
        ins = (
            F.expr(ins_exprs[c])
            if ins_exprs is not None and c in ins_exprs
            else F.lit(None).cast(ttypes[c])
        )
        return (
            F.when(matched, upd.get(c, F.col(f"t.{c}")))
            .when(t_only, F.col(f"t.{c}"))
            .otherwise(ins)
            .cast(ttypes[c])  # result keeps the TARGET's column types
            .alias(c)
        )

    return j.filter(keep).select(*[_out(c) for c in out_cols])


def upsert_to_path(spark: SparkSession, root: str, batch: DataFrame) -> str:
    """The durable MERGE (reference: panda.py:713-728 ON CONFLICT upsert):
    runs `upsert` against the current snapshot and commits the merge
    through the versioned atomic protocol. Returns the committed snapshot
    path."""
    current = latest_commit_path(spark, root)
    store = read_parquet(spark, current) if current is not None else None
    merged = batch if store is None else upsert(store, batch)
    return commit_snapshot(merged, root)


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """Load the canonical table as the analysis working set: euros derived
    from cents, canonical order (lazy — order applied by consumers).
    Resolves the current committed snapshot; legacy plain-parquet
    directories read as-is."""
    current = latest_commit_path(spark, path)
    if current is None:
        raise FileNotFoundError(f"no committed store snapshot under {path}")
    df = read_parquet(spark, current)
    # book_year (the partition column) stays in the working set: year
    # filters that reference it prune whole partition directories, which a
    # filter on year(book_date) alone can never do (analytics._year_filter
    # uses both; they are equal by construction in write_store)
    return (
        df.withColumn("amount", from_cents("amount_cents"))
        .withColumn("balance", from_cents("balance_cents"))
        .drop("amount_cents", "balance_cents")
    )


def next_transaction_id(store: DataFrame) -> int:
    """COALESCE(MAX(transaction_id), 0) + 1."""
    row = store.agg(F.coalesce(F.max("transaction_id"), F.lit(0)).alias("m")).collect()[0]
    return int(row["m"]) + 1


def _cast_to_schema(raw: DataFrame, schema) -> DataFrame:
    """The backup carries ISO strings; re-type against the explicit schema
    (never inferSchema on money columns)."""
    cols = []
    for field in schema.fields:
        c = F.col(field.name)
        if field.dataType.typeName() == "date":
            cols.append(F.to_date(c, "yyyy-MM-dd").alias(field.name))
        elif field.dataType.typeName().startswith("timestamp"):
            cols.append(F.to_timestamp(c, "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(field.name))
        else:
            cols.append(c.cast(field.dataType).alias(field.name))
    return raw.select(*cols)


def _iso_dates(df: DataFrame) -> DataFrame:
    out = df
    for c, t in df.dtypes:
        if t == "date":
            out = out.withColumn(c, F.date_format(F.col(c), "yyyy-MM-dd"))
        elif t.startswith("timestamp"):
            out = out.withColumn(c, F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    return out


def backup_yaml(df: DataFrame, path: str) -> None:
    """S8: the reference's YAML backup format (migrate.py:14-36) —
    a block-style list of records, dates ISO-formatted. Each partition
    emits a valid `- key: value` sequence fragment, and YAML sequences
    concatenate, so the format stays distributed-writable; canonical sort +
    coalesce(1) keeps the personal-scale backup human-diffable (drop the
    coalesce for cluster-scale exports). Serialization runs in Arrow
    batches (mapInPandas) — a text-format edge, not a relational hot path,
    so the zero-UDF guarantee for registry queries is unaffected."""
    import yaml

    from pyspark.sql import types as T

    iso = _iso_dates(df).sort(*[c for c in CANONICAL_ORDER if c in df.columns]).coalesce(1)

    def to_yaml(batches):
        import math

        import pandas as pd

        for pdf in batches:
            records = []
            for rec in pdf.to_dict(orient="records"):
                clean = {
                    k: (None if (isinstance(v, float) and math.isnan(v)) or v is None else v)
                    for k, v in rec.items()
                }
                records.append(clean)
            if records:
                yield pd.DataFrame(
                    {"value": [yaml.safe_dump(records, sort_keys=False, allow_unicode=True)]}
                )

    out_schema = T.StructType([T.StructField("value", T.StringType())])
    iso.mapInPandas(to_yaml, out_schema).write.mode("overwrite").text(path)


def restore_yaml(spark: SparkSession, path: str, schema) -> DataFrame:
    """S9: YAML backup → typed frame. Reads whole files (each file
    is one YAML sequence), parses per file in Arrow batches, then re-types
    against the explicit schema."""
    import yaml

    from pyspark.sql import types as T

    raw = spark.read.text(path, wholetext=True)
    names = [f.name for f in schema.fields]

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            for text in pdf["value"]:
                records = yaml.safe_load(text) or []
                yield pd.DataFrame(
                    {n: [None if r.get(n) is None else str(r.get(n)) for r in records] for n in names}
                )

    str_schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
    return _cast_to_schema(raw.mapInPandas(parse, str_schema), schema)

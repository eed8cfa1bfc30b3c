"""Transaction store (SURVEY.md §2.1 S5-S7, §2.4 J1-J2, §2.2 P11/P13):
fingerprinting, existing-wins dedup, fingerprint MERGE, canonical ordering
— on plain Parquet, pure DataFrame ops.

Behavioral spec: /root/reference/panda.py:596-745. The reference uses a
DuckDB table with `INSERT ... ON CONFLICT (fingerprint) DO UPDATE`; here the
same exactly-once semantics come from `merge_into` on the fingerprint key.
Every snapshot of the table — import, categorize, restore — is committed by
`write_store`, in one layout: partitioned by book_year, sorted within
partitions. `to_storage` is the one working-set → storage conversion.

Scale notes (100 TB):
  - fingerprint is a deterministic sha2 over the natural key → the MERGE
    is an equi-join, broadcastable when a batch is small vs the store.
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


def to_storage(df: DataFrame) -> DataFrame:
    """Working-set frame (euro floats, as `read_store` returns it) → the
    stored columns: money cents-encoded, TRANSACTIONS_SCHEMA's columns in
    order (book_year and any other working column dropped)."""
    return df.withColumns(
        {"amount_cents": to_cents("amount"), "balance_cents": to_cents("balance")}
    ).select(*[f.name for f in TRANSACTIONS_SCHEMA.fields])


def prepare_for_store(df: DataFrame, next_id: int = 1) -> DataFrame:
    """Parsed batch (euro floats) → storage frame: NULL categories where
    the batch has none, fingerprint over the cents-encoded natural key,
    import timestamp, and transaction_id numbered from next_id in
    canonical order by the two-phase operator (operators.sequential_ids:
    range-partition, number per partition, add broadcast prefix offsets;
    no single-partition window)."""
    # every stored column the batch lacks starts NULL; to_storage encodes
    # the money, then the fingerprint and the ids replace their NULLs
    have = set(df.columns)  # one schema round trip, not one per field
    absent = {
        f.name: F.lit(None).cast(f.dataType.simpleString())
        for f in TRANSACTIONS_SCHEMA.fields
        if f.name not in have
    }
    out = to_storage(df.withColumns({**absent, "imported_at": F.current_timestamp()}))
    out = out.withColumn("fingerprint", fingerprint())
    return sequential_ids(out, CANONICAL_ORDER, alias="transaction_id", start=next_id)


# --- atomic versioned commit ------------------------------------------------
#
# The reference's store is a DuckDB file: every `INSERT ... ON CONFLICT`
# commits atomically (panda.py:713-728) and a crashed import can't destroy
# already-committed rows. Plain `mode("overwrite")` parquet has neither
# property: a failure mid-overwrite leaves the ONLY copy of the store
# half-deleted. The substitute here is a versioned snapshot layout:
#
#   <root>/v000001/book_year=2023/ ...  parquet snapshot (+ _SUCCESS
#   <root>/v000001/book_year=2024/ ...  commit marker)
#   <root>/v000002/...
#
# (write_store lays every transactions snapshot out by book_year; the
# streaming store's snapshots are flat.)
# A writer NEVER touches the live snapshot: it writes a fresh vN+1
# directory and the job-commit `_SUCCESS` marker (written last by Spark's
# FileOutputCommitter) IS the atomic commit point. Readers resolve
# "current" = highest version whose `_SUCCESS` exists, so a crashed write
# leaves an ignorable garbage directory, not a broken store. This is the
# same marker protocol Spark/Hadoop use for job commit, works on any
# Hadoop filesystem, and is what Delta/Iceberg formalize with a log —
# they remain the drop-in upgrade behind this interface. Single-writer by
# design (as is the reference's CLI); concurrent writers need the
# Delta/Iceberg optimistic-commit path. A root with no vNNNNNN child is
# an empty store.

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
    """Path of the current (highest committed) snapshot, or None while
    no snapshot is committed (no vNNNNNN child, or only uncommitted
    ones)."""
    committed = [v for v, ok in _version_dirs(spark, root).items() if ok]
    return f"{root}/v{max(committed):0{_VERSION_WIDTH}d}" if committed else None


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


def write_store(df: DataFrame, path: str) -> str:
    """Commit a storage frame as the store's next snapshot (atomic — see
    the versioned-commit notes above) and return its path. The one writer
    of the transactions table: partitioned by year(book_date) so the
    analysis queries (all year-filtered) get partition pruning; sorted
    within partitions for stable output and better parquet RLE."""
    out = df.withColumn("book_year", F.year("book_date"))
    # book_year leads: a partitioned write needs its rows ordered by the
    # partition column, and puts its own sort on book_year alone in place
    # of any sort that does not start with it
    out = out.sortWithinPartitions("book_year", *CANONICAL_ORDER)
    return commit_snapshot(out, path, partition_by=["book_year"])


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    *,
    matched_update: dict[str, str] | None = None,
    matched_delete: str | None = None,
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
          AND <not_matched_insert_condition>         THEN INSERT
        WHEN NOT MATCHED BY SOURCE AND <..._delete>  THEN DELETE

    Expressions are SQL strings over the aliases `t` (target) and `s`
    (source) — e.g. ``{"qty": "t.qty + s.qty"}``. An inserted row takes
    the source's value for each same-named column, NULL elsewhere.

    Like Delta, a target row must match at most ONE source row, or the
    update is ambiguous — callers dedupe the source on the key first
    (`latest_per_key` is the standard pre-step). The result is the merged
    target relation, lazily; durability comes from committing it as a
    snapshot (`upsert_to_path` commits through `write_store`).

    Plan shape at 100 TB: ONE full-outer equi-join shuffle on the merge
    keys carries all four clauses; every clause is a projection/filter on
    that join (no second pass over either side), and AQE broadcasts the
    source leg when it is dim-sized.
    """
    out_cols, src_cols = target.columns, set(source.columns)
    for k in on:
        if k not in out_cols or k not in src_cols:
            raise ValueError(f"merge key {k!r} missing from target or source")
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

    # the three row classes of a full-outer join are disjoint, so ONE
    # filter + ONE 3-way CASE projection realizes every clause without
    # re-executing the join (union-of-filters would run it twice)
    ins_ok = F.coalesce(F.expr(not_matched_insert_condition or "true"), F.lit(False))
    keep = (
        (matched & _no(matched_delete))
        | (t_only & _no(not_matched_by_source_delete))
        | (s_only & ins_ok)
    )
    ttypes = dict(target.dtypes)

    def _out(c: str) -> F.Column:
        ins = F.col(f"s.{c}") if c in src_cols else F.lit(None).cast(ttypes[c])
        return (
            F.when(matched, upd.get(c, F.col(f"t.{c}")))
            .when(t_only, F.col(f"t.{c}"))
            .otherwise(ins)
            .cast(ttypes[c])  # result keeps the TARGET's column types
            .alias(c)
        )

    return j.filter(keep).select(*[_out(c) for c in out_cols])


def upsert_to_path(spark: SparkSession, root: str, batch: DataFrame) -> str:
    """The durable fingerprint MERGE (reference: panda.py:713-728, ON
    CONFLICT (fingerprint) DO UPDATE): matched rows take the batch's
    derived fields, even when NULL, and keep the store's
    category_manual (a parsed batch has it NULL; the reference keeps the
    stored row, so an override survives a re-import); unmatched batch
    rows insert whole.
    `batch` is a storage frame (`prepare_for_store`). Commits through
    `write_store` and returns the committed snapshot path."""
    current = latest_commit_path(spark, root)
    if current is not None:
        store = read_parquet(spark, current).drop("book_year")
        # a re-sent row keeps the store's transaction_id and imported_at
        derived = ["transfer_category", "category", "balance_cents"]
        batch = merge_into(
            store, batch, ["fingerprint"], matched_update={c: f"s.{c}" for c in derived}
        )
    return write_store(batch, root)


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """Load the canonical table as the analysis working set: euros derived
    from cents, canonical order (lazy — order applied by consumers).
    Resolves the current committed snapshot; `to_storage` converts back."""
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
    """S8: the reference's YAML backup format (migrate.py:14-36) — one
    block-style list of records in canonical order, dates ISO-formatted,
    written by the driver to one plain file at `path`. A person can edit
    it: there is no Spark output directory and no checksum sidecar that an
    edit would break. A personal ledger fits in driver memory."""
    import yaml

    iso = _iso_dates(df).sort(*[c for c in CANONICAL_ORDER if c in df.columns])
    records = [r.asDict() for r in iso.collect()]
    with open(path, "w", encoding="utf-8") as f:
        yaml.safe_dump(records, f, sort_keys=False, allow_unicode=True)


def restore_yaml(spark: SparkSession, path: str, schema) -> DataFrame:
    """S9: YAML backup → typed frame. Reads whole files (each file is one
    YAML sequence; `path` is a backup file, or a directory of them as
    earlier versions wrote), parses per file in Arrow batches, then
    re-types against the explicit schema."""
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

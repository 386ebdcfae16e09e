"""Star-schema warehouse with idempotent MERGE-style upserts
(SURVEY.md §2.5 U1-U6; reference DDL /root/reference/sql/warehouse_star.sql,
loaders /root/reference/pipeline/load.py).

Storage: one parquet dataset per table under a warehouse root; fact tables
partitioned by their date column (the Spark replacement for the reference's
six SQLite B-tree indexes — partition pruning + parquet min/max stats serve
the same access paths, SURVEY.md §4).

MERGE without a mutable store: read existing ∪ updates → keep-one-per-key
with updates winning (last-writer-wins, exactly SQLite's
``ON CONFLICT DO UPDATE``) → write to a staging dir → atomic swap.  On a
Delta/Iceberg catalog this maps 1:1 to ``MERGE INTO``; the swap keeps plain
parquet correct (never overwrite a path you are lazily reading).
Partitioned facts merge incrementally: only partitions present in the
update batch are read+rewritten (per-partition directory swap), so a daily
batch costs O(touched partitions), not O(table).

Surrogate keys: the reference relies on SQLite AUTOINCREMENT over sorted
natural keys (/root/reference/pipeline/load.py:75,86,114,126).  Dims that
scale with the data (dim_customers, dim_products) use hash surrogates
instead — xxhash64(natural_key), fully parallel, no global ordering, stable
forever — because AUTOINCREMENT needs a max-id driver collect plus a global
sort, the one single-task bottleneck a 100 TB load cannot afford.  Only the
tiny enumerable dim_event_types keeps exact AUTOINCREMENT parity (sorted
sequential ids), since its ids are user-visible in previews.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DIMS = ("dim_users", "dim_event_types", "dim_dates", "dim_customers", "dim_products")
FACTS = ("fact_events", "fact_international_sales")

# fact_international_sales required input contract (pipeline/load.py:150-153)
INTL_REQUIRED = ("sale_id", "ts", "date_key", "customer", "sku", "gross_amt")

# Each table's columns as the upserts write them, partition column last as
# a parquet read lists it.  Reading with them plans a scan without the
# footer-reading schema-inference job a bare read runs on every call, and
# keeps the partition columns (event_date/date_key) the TEXT they were
# written as — the reference DDL cited above stores dates as strings —
# without turning partition type inference off for the whole session.
SCHEMAS = {
    "dim_users": "user_id string, country string, signup_source string",
    "dim_event_types": "event string, event_type_id bigint",
    "dim_dates": "date_key string, year int, month int, day int",
    "dim_customers": "customer_name string, customer_id bigint",
    "dim_products": "sku string, product_id bigint",
    "fact_events": (
        "event_id string, ts timestamp, user_id string, event_type_id bigint, "
        "amount double, page string, event_hour int, event_date string"
    ),
    "fact_international_sales": (
        "sale_id string, ts string, customer_id bigint, product_id bigint, "
        "pcs bigint, rate double, gross_amt double, currency string, "
        "source_dataset string, date_key string"
    ),
}


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = str(root)

    # -- storage helpers ----------------------------------------------------

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        p = Path(self._path(name))
        return p.exists() and any(p.iterdir())

    def _read(self, name: str, path: str) -> DataFrame:
        """Parquet read with the declared schema of a star table; any
        other table (a caller's own, e.g. a snapshot demo's) is inferred."""
        reader = self.spark.read
        if name in SCHEMAS:
            reader = reader.schema(SCHEMAS[name])
        return reader.parquet(path)

    def table(self, name: str) -> DataFrame:
        return self._read(name, self._path(name))

    def _swap_write(self, name: str, df: DataFrame, partition_by: str | None = None):
        """Materialize → atomic dir swap.  Parquet-safe self-merge."""
        final, staging = self._path(name), self._path(name) + ".staging"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(staging)
        old = final + ".old"
        if os.path.exists(final):
            os.rename(final, old)
        os.rename(staging, final)
        shutil.rmtree(old, ignore_errors=True)

    @staticmethod
    def _row_fingerprint(df: DataFrame, exclude: tuple[str, ...] = ()) -> F.Column:
        """Deterministic whole-row hash: the tiebreak that makes a keep-one
        window stable when a single batch carries DUPLICATE merge keys —
        without it row_number over _prio alone is broken by shuffle order,
        and a re-run of the identical pipeline can persist a different
        row, breaking the idempotency the warehouse tests pin."""
        cols = [F.col(c) for c in df.columns if c not in exclude]
        return F.xxhash64(F.struct(*cols))

    @staticmethod
    def _last_writer_wins(
        existing: DataFrame, updates: DataFrame, key: str, insert_only: bool
    ) -> DataFrame:
        """updates beat existing on key collision (``ON CONFLICT DO
        UPDATE``); insert_only keeps existing rows (``INSERT OR IGNORE``).
        Ties (duplicate keys within one side) break on the deterministic
        row fingerprint."""
        existing = existing.withColumn("_prio", F.lit(0 if not insert_only else 1))
        updates = updates.withColumn("_prio", F.lit(1 if not insert_only else 0))
        unioned = existing.unionByName(updates, allowMissingColumns=True)
        w = Window.partitionBy(key).orderBy(
            F.col("_prio").desc(),
            Warehouse._row_fingerprint(unioned, exclude=("_prio",)).desc(),
        )
        return (
            unioned.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_prio")
        )

    def _merge(
        self,
        name: str,
        updates: DataFrame,
        key: str,
        partition_by: str | None = None,
        insert_only: bool = False,
    ) -> None:
        """MERGE (reference ``ON CONFLICT`` semantics,
        /root/reference/pipeline/load.py:205-214).  Partitioned facts merge
        INCREMENTALLY: only the partitions present in the update batch are
        read, merged, and swapped — untouched partitions' files are never
        rewritten.  A daily batch into a year-deep 100 TB fact therefore
        costs O(batch ∪ touched partitions), not O(table); this is the
        plain-parquet analogue of Delta MERGE's file-pruning."""
        updates = updates.filter(F.col(key).isNotNull())
        if self.exists(name):
            if partition_by:
                self._merge_touched_partitions(
                    name, updates, key, partition_by, insert_only
                )
                return
            merged = self._last_writer_wins(
                self.table(name), updates, key, insert_only
            )
        else:
            # deterministic keep-one for in-batch duplicate keys (bare
            # dropDuplicates picks by partition order)
            w = Window.partitionBy(key).orderBy(
                self._row_fingerprint(updates).desc()
            )
            merged = (
                updates.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        self._swap_write(name, merged, partition_by)

    def _merge_touched_partitions(
        self,
        name: str,
        updates: DataFrame,
        key: str,
        partition_by: str,
        insert_only: bool,
    ) -> None:
        """Partition-targeted MERGE: prune the existing scan to the
        partitions the batch touches, merge, write those partitions to
        staging, and directory-swap each one.  The distinct-partition
        collect is driver-side metadata (dates, not data) — the same class
        of operation as a Delta MERGE's file-listing.

        "Touched" = partitions present in the batch UNION partitions that
        currently hold any of the batch's KEYS: an update that moves a
        key's partition value (e.g. an event's ts corrected to another
        day) must also rewrite the key's OLD partition, or a stale
        duplicate survives there.  Locating old keys is a key+partition
        column scan semi-joined to the batch keys — the two-column,
        column-pruned analogue of Delta MERGE's touched-file join; the
        REWRITE still only covers the touched partitions.  One query finds
        both sets; an empty batch touches nothing on either side."""
        old_parts = (
            self.table(name)
            .select(key, partition_by)
            .join(updates.select(key).distinct(), on=key, how="leftsemi")
            .select(partition_by)
        )
        vals = {
            r[0]
            for r in updates.select(partition_by)
            .union(old_parts)
            .distinct()
            .collect()
        }
        if not vals:
            return
        non_null = [v for v in vals if v is not None]
        cond = F.col(partition_by).isin(non_null)
        if len(non_null) < len(vals):
            cond = cond | F.col(partition_by).isNull()
        existing = self.table(name).filter(cond)
        merged = self._last_writer_wins(existing, updates, key, insert_only)

        final = self._path(name)
        staging = final + ".staging"
        merged.write.mode("overwrite").partitionBy(partition_by).parquet(staging)
        expected = {
            f"{partition_by}={'__HIVE_DEFAULT_PARTITION__' if v is None else v}"
            for v in vals
        }
        self._swap_partition_dirs(final, staging, expected)

    @staticmethod
    def _swap_partition_dirs(
        final: str, staging: str, expected: set[str] | None = None
    ) -> int:
        """Directory-swap every partition dir staged under ``staging`` into
        ``final``; returns the number of partitions swapped.  ``expected``
        names the touched partition dirs: a touched partition with NO
        staged dir merged to zero rows (its only rows moved elsewhere) and
        its live dir must be REMOVED, not left holding the stale copy."""
        n = 0
        staged = set()
        for d in os.listdir(staging):
            src = os.path.join(staging, d)
            if not (os.path.isdir(src) and "=" in d):
                continue
            staged.add(d)
            dst = os.path.join(final, d)
            old = dst + ".old"
            if os.path.exists(dst):
                os.rename(dst, old)
            os.rename(src, dst)
            shutil.rmtree(old, ignore_errors=True)
            n += 1
        for d in (expected or set()) - staged:
            shutil.rmtree(os.path.join(final, d), ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)
        return n

    def _assign_surrogate(
        self,
        name: str,
        new_keys: DataFrame,
        natural_key: str,
        id_col: str,
        mode: str = "hash",
    ) -> DataFrame:
        """Surrogate-key assignment, two strategies (SURVEY §1.2):

        ``hash`` (default — any dim that grows with the data): id =
        xxhash64(natural_key).  Fully parallel: no max-id collect, no global
        window, no dependence on existing rows (the hash is a pure function
        of the key, so re-runs and concurrent writers agree forever).  The
        merge is a single dropDuplicates shuffle on the natural key.
        Collision math: 64-bit ids collide with p ≈ n²/2⁶⁵ (~3% odds of one
        collision somewhere at n=10⁹ keys); if a dim really reaches that
        cardinality, widen to sha2-256-truncated 128-bit (two longs) — the
        call sites only require id determinism, not id width.

        ``sorted`` (enumerable tiny dims only, e.g. dim_event_types):
        AUTOINCREMENT parity with the reference — existing ids kept, new
        keys get max(existing)+row_number in sort order
        (/root/reference/pipeline/load.py:75,86,114,126).  This path runs a
        driver collect and a single-partition window by design; it must
        never be used for a dim that scales with the data.
        """
        new_keys = new_keys.filter(F.col(natural_key).isNotNull()).distinct()
        if mode == "hash":
            with_ids = new_keys.withColumn(id_col, F.xxhash64(F.col(natural_key)))
            if self.exists(name):
                with_ids = self.table(name).unionByName(with_ids)
            return with_ids.dropDuplicates([natural_key])
        if self.exists(name):
            existing = self.table(name)
            base = existing.agg(F.max(id_col)).collect()[0][0] or 0
            fresh = new_keys.join(
                existing.select(natural_key), on=natural_key, how="left_anti"
            )
        else:
            existing = None
            base = 0
            fresh = new_keys
        w = Window.orderBy(natural_key)  # tiny enumerable dim: fine
        fresh_ids = fresh.withColumn(id_col, (F.row_number().over(w) + F.lit(base)).cast("long"))
        return fresh_ids if existing is None else existing.unionByName(fresh_ids)

    # -- U1: dim_users (upsert, /root/reference/pipeline/load.py:26-69) -----

    def upsert_dim_users(self, users: DataFrame) -> None:
        if "user_id" not in users.columns:
            return
        cols = set(users.columns)
        u = users.select(
            F.col("user_id").cast("string").alias("user_id"),
            (
                F.coalesce(F.col("country").cast("string"), F.lit("unknown"))
                if "country" in cols
                else F.lit("unknown")
            ).alias("country"),
            (
                F.coalesce(F.col("signup_source").cast("string"), F.lit("unknown"))
                if "signup_source" in cols
                else F.lit("unknown")
            ).alias("signup_source"),
        ).filter(F.trim(F.col("user_id")) != "")
        self._merge("dim_users", u.dropDuplicates(["user_id"]), key="user_id")

    # -- U2: dim_event_types (insert-if-absent + autoincrement id) ----------

    def upsert_dim_event_types(self, cleaned: DataFrame) -> None:
        events = cleaned.select(F.col("event").cast("string").alias("event"))
        dim = self._assign_surrogate(
            "dim_event_types", events, "event", "event_type_id", mode="sorted"
        )
        self._swap_write("dim_event_types", dim)

    # -- U3: dim_dates (derive y/m/d, insert-if-absent) ---------------------

    def upsert_dim_dates(self, cleaned: DataFrame, date_col: str = "event_date") -> None:
        # try_to_timestamp → null on malformed (ANSI-safe to_date)
        d = F.try_to_timestamp(F.col(date_col).cast("string"), F.lit("yyyy-MM-dd")).cast("date")
        dates = (
            cleaned.select(F.col(date_col).cast("string").alias("date_key"), d.alias("_d"))
            .filter(F.col("_d").isNotNull())  # malformed dates silently skipped (:92-93)
            .select(
                "date_key",
                F.year("_d").alias("year"),
                F.month("_d").alias("month"),
                F.dayofmonth("_d").alias("day"),
            )
            .distinct()
        )
        self._merge("dim_dates", dates, key="date_key", insert_only=True)

    # -- U4: dim_customers / dim_products ------------------------------------

    def upsert_dim_customers(self, intl: DataFrame) -> None:
        if "customer" not in intl.columns:
            return
        names = intl.select(F.col("customer").cast("string").alias("customer_name"))
        dim = self._assign_surrogate("dim_customers", names, "customer_name", "customer_id")
        self._swap_write("dim_customers", dim)

    def upsert_dim_products(self, intl: DataFrame) -> None:
        if "sku" not in intl.columns:
            return
        skus = intl.select(F.col("sku").cast("string").alias("sku"))
        dim = self._assign_surrogate("dim_products", skus, "sku", "product_id")
        self._swap_write("dim_products", dim)

    # -- U5: fact_events (MERGE on event_id, dims ensured first) ------------

    def upsert_fact_events(self, cleaned: DataFrame) -> None:
        self.upsert_dim_event_types(cleaned)
        self.upsert_dim_dates(cleaned)
        dim_et = self.table("dim_event_types")
        cols = set(cleaned.columns)
        fact = (
            cleaned.join(F.broadcast(dim_et), on="event", how="left")
            .select(
                F.col("event_id").cast("string").alias("event_id"),
                F.col("ts"),
                F.col("user_id").cast("string").alias("user_id"),
                F.col("event_type_id"),
                (F.col("amount") if "amount" in cols else F.lit(None)).cast("double").alias("amount"),
                (F.col("page") if "page" in cols else F.lit(None)).cast("string").alias("page"),
                F.col("event_date").cast("string").alias("event_date"),
                F.col("event_hour").cast("int").alias("event_hour"),
            )
        )
        self._merge("fact_events", fact, key="event_id", partition_by="event_date")

    # -- user erasure (right-to-be-forgotten delete) ------------------------

    def erase_users(self, user_ids) -> dict:
        """Delete every row belonging to ``user_ids`` from dim_users and
        fact_events (GDPR right-to-be-forgotten for the events star; the
        intl star is keyed by customer/product, not user).

        Scale shape: the erasure list is tiny (broadcast-sized by nature),
        so membership is an IN-list predicate the scan can evaluate
        map-side.  The fact rewrite is partition-targeted: a pruned scan
        finds which event_date partitions actually contain the users'
        rows (driver-side metadata — dates, not data), and ONLY those
        partitions are rewritten via the same per-partition directory
        swap the MERGE path uses — O(partitions containing the user),
        not O(table).  A partition whose every row belonged to erased
        users yields no staged output and is deleted outright.  At
        100 TB the discovery step would ride a user→partition index or
        Delta deletion vectors; the rewrite cost model is identical.
        """
        ids = [str(u) for u in user_ids]
        report = {
            "dim_users_removed": 0,
            "fact_rows_removed": 0,
            "partitions_rewritten": 0,
            "partitions_deleted": 0,
        }
        if not ids:
            return report
        hit_user = F.col("user_id").isin(ids)
        if self.exists("dim_users"):
            du = self.table("dim_users")
            n = du.filter(hit_user).count()
            if n:
                self._swap_write("dim_users", du.filter(~hit_user))
            report["dim_users_removed"] = n
        if self.exists("fact_events"):
            t = self.table("fact_events")
            touched = [
                r[0]
                for r in t.filter(hit_user)
                .select("event_date")
                .distinct()
                .collect()
            ]
            if touched:
                non_null = [v for v in touched if v is not None]
                cond = (
                    F.col("event_date").isin(non_null)
                    if non_null
                    else F.lit(False)
                )
                if len(non_null) < len(touched):
                    cond = cond | F.col("event_date").isNull()
                part = t.filter(cond)
                report["fact_rows_removed"] = part.filter(hit_user).count()
                keep = part.filter(F.col("user_id").isNull() | ~hit_user)
                final = self._path("fact_events")
                staging = final + ".staging"
                keep.write.mode("overwrite").partitionBy("event_date").parquet(
                    staging
                )
                staged = set(os.listdir(staging))
                report["partitions_rewritten"] = self._swap_partition_dirs(
                    final, staging
                )
                for v in touched:
                    d = (
                        f"event_date={v}"
                        if v is not None
                        else "event_date=__HIVE_DEFAULT_PARTITION__"
                    )
                    if d not in staged:
                        shutil.rmtree(os.path.join(final, d), ignore_errors=True)
                        report["partitions_deleted"] += 1
        return report

    # -- U6: fact_international_sales (contract + FK resolve + MERGE) -------

    def upsert_fact_international_sales(self, intl: DataFrame) -> None:
        missing = [c for c in INTL_REQUIRED if c not in intl.columns]
        if missing:
            raise ValueError(
                f"international sales missing required columns: {missing}"
            )
        self.upsert_dim_dates(intl, date_col="date_key")
        self.upsert_dim_customers(intl)
        self.upsert_dim_products(intl)
        dim_c = self.table("dim_customers")
        dim_p = self.table("dim_products")
        cols = set(intl.columns)
        fact = (
            intl.withColumn("customer_name", F.col("customer").cast("string"))
            .withColumn("sku", F.col("sku").cast("string"))
            .join(F.broadcast(dim_c), on="customer_name", how="left")
            .join(F.broadcast(dim_p), on="sku", how="left")
            .select(
                F.col("sale_id").cast("string").alias("sale_id"),
                F.col("ts").cast("string").alias("ts"),
                F.col("date_key").cast("string").alias("date_key"),
                F.col("customer_id"),
                F.col("product_id"),
                (F.col("pcs") if "pcs" in cols else F.lit(None)).try_cast("long").alias("pcs"),
                (F.col("rate") if "rate" in cols else F.lit(None)).try_cast("double").alias("rate"),
                F.col("gross_amt").try_cast("double").alias("gross_amt"),
                (F.col("currency") if "currency" in cols else F.lit("USD")).cast("string").alias("currency"),
                (F.col("source_dataset") if "source_dataset" in cols else F.lit(None)).cast("string").alias("source_dataset"),
            )
            # null FK / null measure rows dropped (pipeline/load.py:181-183)
            .filter(
                F.col("customer_id").isNotNull()
                & F.col("product_id").isNotNull()
                & F.col("gross_amt").isNotNull()
            )
        )
        self._merge(
            "fact_international_sales", fact, key="sale_id", partition_by="date_key"
        )

    # -- view registration for spark.sql analytics (EP2) --------------------

    def register_views(self, prefix: str = "") -> None:
        for name in DIMS + FACTS:
            if self.exists(name):
                self.table(name).createOrReplaceTempView(prefix + name)


    # -- snapshots: time travel + CDC diff on the swap-write substrate ------
    # (class-indent section comment on purpose: a column-0 banner between
    # methods parses today but silently de-classes these defs under any
    # re-indent or inserted module-level statement — ADVICE r6)

    def _snap_dir(self, name: str) -> str:
        return os.path.join(self.root, "_snapshots", name)

    def snapshot_versions(self, name: str) -> list[int]:
        """Published snapshot generations of ``name``, ascending."""
        d = Path(self._snap_dir(name))
        if not d.exists():
            return []
        return sorted(
            int(p.name[1:])
            for p in d.iterdir()
            if p.is_dir() and p.name.startswith("v") and p.name[1:].isdigit()
        )

    def snapshot_table(self, name: str) -> int:
        """Publish the CURRENT contents of ``name`` as the next immutable
        snapshot generation and return its version number.

        Parquet part files are immutable once a swap publishes them, so a
        snapshot is a HARDLINK forest (os.link per file — bytes are never
        copied; a later swap of the live table replaces the live dir but
        the links keep the old files alive).  Built in a scratch dir and
        atomically renamed in, the same crash-recovery contract as
        _swap_write: a torn snapshot can never be observed under v{N}.
        This is the plain-parquet core of what a lakehouse MERGE substrate
        (Delta/Iceberg) calls a table version: time-travel reads and
        CDC-style diffs without a transaction log dependency.

        Compliance caveat (same as Delta's VACUUM contract): snapshots
        RETAIN rows later removed by erase_users — a GDPR erasure is only
        complete once the retention window drops every snapshot version
        that predates it (delete the v{N} dirs; the hardlinks are the only
        remaining references)."""
        import uuid

        src = Path(self._path(name))
        if not src.exists():
            raise FileNotFoundError(f"table {name} does not exist")
        versions = self.snapshot_versions(name)
        nxt = (versions[-1] + 1) if versions else 1
        snap_root = Path(self._snap_dir(name))
        snap_root.mkdir(parents=True, exist_ok=True)
        build = snap_root / f".build-{uuid.uuid4().hex}"
        for p in src.rglob("*"):
            rel = p.relative_to(src)
            dst = build / rel
            if p.is_dir():
                dst.mkdir(parents=True, exist_ok=True)
            else:
                dst.parent.mkdir(parents=True, exist_ok=True)
                os.link(p, dst)
        dst = snap_root / f"v{nxt}"
        try:
            os.rename(build, dst)
        except OSError:
            # concurrent snapshotter won this version; discard ours
            shutil.rmtree(build, ignore_errors=True)
            raise
        return nxt

    def read_snapshot(self, name: str, version: int) -> DataFrame:
        """Time-travel read of snapshot ``v{version}`` of ``name``."""
        p = os.path.join(self._snap_dir(name), f"v{version}")
        if not os.path.isdir(p):
            raise FileNotFoundError(f"{name} has no snapshot v{version}")
        return self._read(name, p)

    @staticmethod
    def snapshot_diff(
        old: DataFrame, new: DataFrame, key: str
    ) -> DataFrame:
        """CDC-style row diff between two table generations:
        (key, change) with change ∈ {'added','removed','changed'} —
        unchanged rows are dropped.  One full-outer join on the key;
        row identity is the deterministic whole-row fingerprint
        (_row_fingerprint), so 'changed' means any non-key column moved.
        The shape a downstream incremental consumer reads instead of
        re-scanning the table."""
        o = old.select(
            F.col(key).alias("_k"),
            Warehouse._row_fingerprint(old, exclude=(key,)).alias("_fo"),
        )
        n = new.select(
            F.col(key).alias("_k"),
            Warehouse._row_fingerprint(new, exclude=(key,)).alias("_fn"),
        )
        j = o.join(n, on="_k", how="full_outer")
        return (
            j.select(
                F.col("_k").alias(key),
                F.when(F.col("_fo").isNull(), F.lit("added"))
                .when(F.col("_fn").isNull(), F.lit("removed"))
                .when(F.col("_fo") != F.col("_fn"), F.lit("changed"))
                .alias("change"),
            )
            .filter(F.col("change").isNotNull())
        )

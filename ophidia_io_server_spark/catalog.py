"""In-memory catalog (≙ reference MetaDB,
``/root/reference/src/metadb/oph_metadb_interface.h:54-100``).

The reference keeps a rwlock-protected linked list of databases each holding a
hash table of fragment records (device, persistence flag, size).  Here the
driver-side catalog is a plain dict of database → fragment entries wrapping
cached DataFrames; Spark's own catalog handles nothing we need beyond temp
views.  The catalog itself takes no lock: ``server.QueryServer`` serializes
every ``IOServer.execute`` under its ``catalog_lock`` (the reference's
rwlock), so concurrent connections never mutate it at the same time.

Entries hold plans: ``put`` only marks a plan for caching (the cache fills
when a statement that reads the fragment is drained) and
``FragmentEntry.size`` returns a one-row plan, so neither runs a Spark job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_DB = "default"


class CatalogError(KeyError):
    pass


@dataclass
class FragmentEntry:
    name: str
    db: str
    df: DataFrame
    temp: bool = False
    cached: bool = False
    device: str = "MEMORY"

    def size(self) -> DataFrame:
        """One-row plan ``(frag, size_bytes)`` (≙ reference frag size
        tracking, oph_io_server_query_blocks.c:2918-3009): 8 bytes per id and
        per element, 1 per string character, computed from the data rather
        than JVM internals so oracles can agree."""
        acc = None
        for name, t in self.df.dtypes:
            if t.startswith("array"):
                c = F.coalesce(F.size(F.col(name)), F.lit(0)) * 8
            elif t == "string":
                c = F.coalesce(F.length(F.col(name)), F.lit(0))
            else:
                c = F.lit(8)
            acc = c if acc is None else acc + c
        return self.df.agg(F.lit(self.name).alias("frag"),
                           F.coalesce(F.sum(acc), F.lit(0)).alias("size_bytes"))


@dataclass
class Catalog:
    spark: SparkSession
    dbs: dict[str, dict[str, FragmentEntry]] = field(default_factory=lambda: {DEFAULT_DB: {}})
    current_db: str = DEFAULT_DB

    # -- databases ----------------------------------------------------------

    def create_database(self, name: str) -> None:
        name = name.lower()
        if name in self.dbs:
            raise CatalogError(f"database {name!r} already exists")
        self.dbs[name] = {}

    def drop_database(self, name: str) -> None:
        name = name.lower()
        if name not in self.dbs:
            raise CatalogError(f"database {name!r} does not exist")
        if self.dbs[name]:
            raise CatalogError(f"database {name!r} is not empty")
        del self.dbs[name]
        if self.current_db == name:
            self.current_db = DEFAULT_DB

    def use(self, name: str) -> None:
        if name.lower() not in self.dbs:
            raise CatalogError(f"database {name!r} does not exist")
        self.current_db = name.lower()

    # -- fragments ----------------------------------------------------------

    def _split(self, name: str) -> tuple[str, str]:
        name = name.strip().lower()
        if "." in name:
            db, _, frag = name.partition(".")
            return db, frag
        return self.current_db, name

    def put(self, name: str, df: DataFrame, temp: bool = False, cache: bool = True,
            overwrite: bool = False) -> FragmentEntry:
        db, frag = self._split(name)
        if db not in self.dbs:
            raise CatalogError(f"database {db!r} does not exist")
        if frag in self.dbs[db] and not overwrite:
            raise CatalogError(f"fragment {db}.{frag} already exists")
        old = self.dbs[db].get(frag)
        if old is not None and old.cached:
            # overwrite replaces the entry: free the superseded cached plan
            # (otherwise every overwrite leaks an executor-memory cache)
            try:
                old.df.unpersist()
            except Exception:  # noqa: BLE001 — best-effort cleanup
                pass
        if cache:
            df = df.cache()
        entry = FragmentEntry(name=frag, db=db, df=df, temp=temp, cached=cache)
        self.dbs[db][frag] = entry
        return entry

    def get(self, name: str) -> FragmentEntry:
        db, frag = self._split(name)
        if db not in self.dbs or frag not in self.dbs[db]:
            raise CatalogError(f"fragment {name!r} not found")
        return self.dbs[db][frag]

    def df(self, name: str) -> DataFrame:
        return self.get(name).df

    def drop(self, name: str) -> None:
        db, frag = self._split(name)
        if db not in self.dbs or frag not in self.dbs[db]:
            raise CatalogError(f"fragment {name!r} not found")
        entry = self.dbs[db].pop(frag)
        if entry.cached:
            entry.df.unpersist()

    def exists(self, name: str) -> bool:
        db, frag = self._split(name)
        return db in self.dbs and frag in self.dbs[db]

    def list_fragments(self, db: str | None = None) -> list[str]:
        db = (db or self.current_db).lower()
        return sorted(self.dbs.get(db, {}))

    # -- persistence --------------------------------------------------------
    # ≙ reference MetaDB schema-file persistence so the server survives a
    # restart (oph_metadb_auxiliary.c:353-600).  Here: each call writes a
    # complete snapshot, every non-temp fragment as parquet under
    # <root>/v<N>/<db>/<frag>/, and then publishes it by atomically
    # replacing <root>/LATEST.  The directory layout IS the schema file — no
    # extra metadata format to version — and a restore sees either the
    # previous or the new snapshot, never a half-written tree (a crash or a
    # failed write leaves LATEST on the previous one).  Snapshots are
    # append-only (object-store-friendly, ≙ a minimal Delta-style commit
    # protocol without log compaction); old versions are never deleted, so
    # ``restore`` can also read an older one.

    def persist(self, root: str, id_files: int | None = None) -> list[str]:
        """Write and publish a new snapshot; returns the saved
        ``db.frag`` names."""
        return self._publish(root, id_files)[1]

    def persist_versioned(self, root: str, id_files: int | None = None) -> int:
        """``persist``, returning the published version number."""
        return self._publish(root, id_files)[0]

    def _publish(self, root: str, id_files: int | None) -> tuple[int, list[str]]:
        import os
        import shutil

        os.makedirs(root, exist_ok=True)
        existing = [int(d[1:]) for d in os.listdir(root)
                    if d.startswith("v") and d[1:].isdigit()]
        version = max(existing, default=0) + 1
        snap = f"{root}/v{version}"
        saved = []
        try:
            for db, frags in self.dbs.items():
                # empty databases must survive a restart too
                os.makedirs(f"{snap}/{db}", exist_ok=True)
                for frag, entry in frags.items():
                    if entry.temp:
                        continue
                    df = entry.df
                    if "id_dim" in df.columns:
                        # range-partitioned + sorted layout: each parquet file
                        # covers a tight contiguous id range, so restored
                        # fragments get row-group/file skipping on id_dim
                        # predicates (the cube's partition-pruning backbone)
                        n = id_files or df.sparkSession.sparkContext.defaultParallelism
                        df = df.repartitionByRange(n, F.col("id_dim").asc()) \
                               .sortWithinPartitions("id_dim")
                    df.write.parquet(f"{snap}/{db}/{frag}")
                    saved.append(f"{db}.{frag}")
        except BaseException:
            shutil.rmtree(snap, ignore_errors=True)
            raise
        tmp = f"{root}/.LATEST.tmp-{version}"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, f"{root}/LATEST")  # atomic publish
        return version, saved

    @classmethod
    def restore_versioned(cls, spark: SparkSession, root: str,
                          version: int | None = None, cache: bool = True) -> "Catalog":
        return cls.restore(spark, root, cache=cache, version=version)

    @classmethod
    def restore(cls, spark: SparkSession, root: str, cache: bool = True,
                version: int | None = None) -> "Catalog":
        """The catalog of snapshot ``version`` under ``root``; by default
        the published one (``LATEST``)."""
        import os

        if version is None:
            try:
                with open(f"{root}/LATEST") as f:
                    version = int(f.read().strip())
            except FileNotFoundError as e:
                raise CatalogError(f"no persisted catalog at {root!r}") from e
        snap = f"{root}/v{version}"
        if not os.path.isdir(snap):
            raise CatalogError(f"snapshot v{version} not found at {root!r}")
        cat = cls(spark)
        for db in sorted(os.listdir(snap)):
            dbdir = os.path.join(snap, db)
            if not os.path.isdir(dbdir):
                continue
            if db not in cat.dbs:
                cat.dbs[db] = {}
            for frag in sorted(os.listdir(dbdir)):
                fragdir = os.path.join(dbdir, frag)
                if os.path.isdir(fragdir):
                    cat.put(f"{db}.{frag}", spark.read.parquet(fragdir), cache=cache)
        return cat


def merge_upsert(base: DataFrame, updates: DataFrame, key: str = "id_dim",
                 validate: bool = True) -> DataFrame:
    """MERGE-style upsert: rows of ``updates`` replace same-key rows of
    ``base``; unmatched update rows insert; unmatched base rows survive.

    Both frames must share the schema.  The plan is one shuffled full-outer
    equi-join on the key (Spark broadcasts the update side when small) with
    per-column ``coalesce(update, base)`` — the Delta/Iceberg MERGE INTO
    core without a table format, for the in-memory fragment store.  At
    warehouse scale co-locate by bucketing both sides on the key to make
    the join exchange-free (``tests/test_bucketed_join.py`` shows the
    pattern).

    Columns are taken update-first PER ROW, not per cell: a NULL cell in an
    update row still wins (marker join, not bare coalesce), matching MERGE
    semantics.

    SQL MERGE errors when multiple source rows match one target row; a
    duplicate key on EITHER side of this full-outer join would silently
    multiply rows instead.  ``validate=True`` (default) checkpoints the
    update side once and runs a bounded duplicate probe over it (the merge
    join then reuses the materialized rows — the update lineage executes
    exactly once either way); a caller that guarantees uniqueness upstream
    can pass ``validate=False`` to skip probe and materialization both.
    Base-side uniqueness is the fragment store's own invariant
    (``sequential_ids`` / import paths)."""
    if set(base.columns) != set(updates.columns):
        raise CatalogError(
            f"merge_upsert schema mismatch: base {sorted(base.columns)} vs "
            f"updates {sorted(updates.columns)}")
    if validate:
        # the probe must materialize the update side anyway — checkpoint it
        # so the merge join below reuses the materialized rows instead of
        # replaying an expensive updates lineage a second time
        updates = updates.localCheckpoint()
        dup = (updates.groupBy(key).count().where(F.col("count") > 1)
               .limit(1).collect())
        if dup:
            raise CatalogError(
                f"merge_upsert: duplicate key {dup[0][key]!r} in updates — "
                "SQL MERGE rejects multiple matches; dedupe the update side "
                "or pass validate=False if multiplication is intended")
    payload = [c for c in base.columns if c != key]
    b = base.select(key, F.struct(*payload).alias("_b"))
    u = updates.select(key, F.struct(*payload).alias("_u"))
    merged = b.join(u, on=key, how="full_outer").select(
        key, F.coalesce(F.col("_u"), F.col("_b")).alias("_r"))
    return merged.select(key, *[F.col("_r")[c].alias(c) for c in payload])


def merge_into(catalog: "Catalog", name: str, updates: DataFrame,
               key: str = "id_dim", cache: bool = True) -> DataFrame:
    """Upsert ``updates`` into a stored fragment in place (replaces the
    catalog entry, preserving its database scoping).  Returns the merged
    DataFrame."""
    merged = merge_upsert(catalog.df(name), updates, key=key)
    catalog.drop(name)
    catalog.put(name, merged, cache=cache)
    return merged

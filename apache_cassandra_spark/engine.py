"""Engine facade — the ``CassandraServer`` analog: one object tying the
catalog, the cell store, and every client operator together, mirroring the
Thrift surface 1:1 (``interface/cassandra.thrift:290-464``) so a user of
the reference can switch call-for-call.

Meta/DDL-ish surface (§2.3) included: ``describe_keyspaces``,
``describe_keyspace``, ``describe_partitioner``, ``describe_version``,
``describe_cluster_name``, ``describe_ring``, and ``login`` delegating
to a pluggable authenticator (``auth.AllowAllAuthenticator`` default,
``auth.SimpleAuthenticator`` for passwd/ACL parity with the reference).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from apache_cassandra_spark import __version__
from apache_cassandra_spark.catalog import Catalog, CFDef
from apache_cassandra_spark.functions.reconcile import live_rows
from apache_cassandra_spark.functions.tokens import Partitioner, RandomPartitioner, get_partitioner
from apache_cassandra_spark.model import CF, ColumnPath, KeyRange, SlicePredicate
from apache_cassandra_spark.operators import exists as X
from apache_cassandra_spark.operators import maintenance as M
from apache_cassandra_spark.operators import read as R
from apache_cassandra_spark.operators import write as W
from apache_cassandra_spark import validation as V
from apache_cassandra_spark.sources.cellstore import CellStore


def restore_store_kwargs(root: str) -> dict:
    """Engine kwargs recovered from a store root's cluster.json — the ONE
    restore path shared by CLI ``CONNECT`` and ``python -m`` so the two
    cannot drift. Partitioner is store-layout state (the token order the
    data was written under): an unknown persisted name fails loudly —
    register the class in ``functions.tokens`` — because silently falling
    back would read with the wrong token order. A legacy cluster.json
    WITHOUT the partitioner field (pre-r10 stores) restores only the
    cluster name; the engine then defaults to RandomPartitioner exactly
    as those stores were opened before the field existed — re-save with
    ``Engine.save_schema()`` to pin the real one."""
    import json as _json

    kwargs: dict = {}
    cl_path = os.path.join(root, "cluster.json")
    if os.path.isfile(cl_path):
        with open(cl_path) as fh:
            meta = _json.load(fh)
        kwargs["cluster_name"] = meta["cluster_name"]
        if not meta.get("partitioner"):
            import warnings

            warnings.warn(
                f"store at {root!r} has legacy cluster metadata without a "
                "partitioner field; defaulting to RandomPartitioner — if "
                "this store was written under another partitioner, rebuild "
                "the Engine with it and call save_schema() to pin it",
                stacklevel=2,
            )
        else:
            try:
                kwargs["partitioner"] = get_partitioner(meta["partitioner"])
            except KeyError:
                raise ValueError(
                    f"store at {root!r} was written under partitioner "
                    f"{meta['partitioner']!r}, which is not registered in "
                    "functions.tokens — register it (or build the Engine "
                    "directly with the right instance); silently falling "
                    "back would read with the wrong token order"
                ) from None
    return kwargs


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        catalog: Catalog,
        partitioner: Partitioner | None = None,
        cluster_name: str = "pyspark-widecolumn",
        authenticator=None,
    ) -> None:
        from apache_cassandra_spark.auth import AllowAllAuthenticator

        self.spark = spark
        self.catalog = catalog
        self.authenticator = authenticator or AllowAllAuthenticator()
        self.partitioner = partitioner or RandomPartitioner()
        self.store = CellStore(spark, root, catalog, self.partitioner)
        self.cluster_name = cluster_name
        # fork op-stat pipeline analog (stat/create.sql:1-40): every public
        # op call is intercepted into an in-process aggregate; read it with
        # engine.stats.to_df(spark) / reset with engine.stats.reset()
        from apache_cassandra_spark.stats import OpStats, instrument

        self.stats = OpStats(cluster_name=cluster_name)
        instrument(self, self.stats)
        # per-session login flag (CassandraServer.java:55-60 loginDone)
        self._login_done = False
        # persist the catalog next to the data so a CLI CONNECT against
        # this root can rebuild the engine (cli/Cli.g:85-86 analog); the
        # reference's equivalent lives in storage-conf.xml on the server
        # persisted on first creation only (and best-effort: a read-only
        # root must still open). Always-overwrite was tried and reverted:
        # opening an existing store with a default/fixture catalog (e.g.
        # `python -m apache_cassandra_spark <root>`) would destroy the
        # real schema snapshot. Schema evolution refreshes EXPLICITLY via
        # save_schema() — the DDL-commit analog.
        self._root = root
        try:
            if not os.path.isfile(os.path.join(root, "catalog.json")):
                self.save_schema()
        except OSError:
            pass  # read-only media: CONNECT-ability is best-effort

    def save_schema(self) -> None:
        """Persist catalog.json + cluster.json at the store root — what a
        CLI ``CONNECT`` rebuilds the engine from. Called automatically
        when a store is first created; call it again after evolving the
        catalog or renaming the cluster (the reference's equivalent edit
        is storage-conf.xml, also an explicit operator action). The
        partitioner NAME rides in cluster.json: it is store-layout state
        (token order the data was written under), not client state."""
        import json as _json

        os.makedirs(self._root, exist_ok=True)
        # atomic per-file (tmp + rename, the cellstore pointer-flip
        # pattern), and cluster.json FIRST: catalog.json is the commit
        # sentinel the first-creation check gates on, so a crash between
        # the two writes leaves no sentinel and the next init retries the
        # whole save instead of permanently shipping half a snapshot.
        # Scope: that all-or-nothing property covers FIRST CREATION; an
        # explicit re-save is two independent atomic swaps, so a crash
        # between them can pair new cluster metadata with the old schema
        # until save_schema() runs again — metadata nicety, not a
        # data-plane risk (cells never ride in these files)
        cl_path = os.path.join(self._root, "cluster.json")
        with open(cl_path + ".tmp", "w") as fh:
            _json.dump(
                {"cluster_name": self.cluster_name, "partitioner": self.partitioner.name},
                fh,
            )
        os.replace(cl_path + ".tmp", cl_path)
        cat_path = os.path.join(self._root, "catalog.json")
        self.catalog.save(cat_path + ".tmp")
        os.replace(cat_path + ".tmp", cat_path)

    # -- meta (§2.3) --------------------------------------------------------
    def login(self, keyspace: str, credentials: dict | None = None) -> None:
        """``CassandraServer.login`` analog (``:656-661``): delegates to
        the configured authenticator — AllowAll by default,
        ``auth.SimpleAuthenticator`` for passwd-file + keyspace-ACL parity
        (raises AuthenticationException / AuthorizationException). On
        success sets the session's login flag (``loginDone.set(true)``);
        a failed login leaves it cleared."""
        self.authenticator.login(keyspace, credentials)
        self._login_done = True

    def logout(self) -> None:
        """``CassandraServer.logout`` (``:663-668``): clear the session's
        login flag — subsequent data-plane ops under a non-AllowAll
        authenticator require ``login`` again."""
        self._login_done = False

    def _check_login_done(self) -> None:
        """``checkLoginDone`` (``CassandraServer.java:670-680``): AllowAll
        bypasses the requirement (the reference's CASSANDRA-714 interim
        behavior, kept for parity); any other authenticator demands a
        completed ``login`` before data-plane calls."""
        from apache_cassandra_spark.auth import AllowAllAuthenticator

        if isinstance(self.authenticator, AllowAllAuthenticator):
            return
        if not self._login_done:
            raise ValueError("login required before this operation (InvalidRequestException analog)")

    def describe_keyspaces(self) -> list[str]:
        return self.catalog.describe_keyspaces()

    def describe_keyspace(self, name: str) -> dict:
        return self.catalog.describe_keyspace(name)

    def describe_partitioner(self) -> str:
        return self.partitioner.name

    def describe_version(self) -> str:
        return __version__

    def describe_cluster_name(self) -> str:
        return self.cluster_name

    def describe_ring(self, keyspace: str) -> list[dict]:
        """Partition layout introspection: one logical range per CF backing
        fileset (single-source engine: every range is 'local'). Meta op —
        NOT login-gated, matching the reference (checkLoginDone guards
        only the data plane)."""
        out = []
        for cf in self.catalog.keyspace(keyspace).column_families:
            handle = self.store.cf(keyspace, cf.name)
            out.append(
                {
                    "column_family": cf.name,
                    "partitions": handle.cells.rdd.getNumPartitions(),
                }
            )
        return out

    def describe_splits(self, keyspace: str, cf_name: str, keys_per_split: int) -> list[str]:
        # meta op: not login-gated in the reference either
        V.validate_cf(self.catalog, keyspace, cf_name)
        return R.describe_splits(self.store.cf(keyspace, cf_name), keys_per_split)

    def get_string_property(self, name: str) -> str:
        """``get_string_property`` (``CassandraServer.java:463-486``)."""
        props = {
            "cluster name": self.cluster_name,
            "version": __version__,
            "partitioner": type(self.partitioner).__module__ + "." + type(self.partitioner).__name__,
            "config file": "(catalog dict — no xml config)",
        }
        try:
            return props[name]
        except KeyError:
            raise ValueError(f"unknown property {name!r}; known: {sorted(props)}") from None

    def get_string_list_property(self, name: str) -> list[str]:
        """``get_string_list_property`` (``CassandraServer.java:488-512``)."""
        if name == "keyspaces":
            return self.describe_keyspaces()
        raise ValueError(f"unknown list property {name!r}")

    # -- handles ------------------------------------------------------------
    def cf(self, keyspace: str, cf_name: str) -> CF:
        self._check_login_done()  # every Spark read binds through here
        return self.store.cf(keyspace, cf_name)

    def _live_rows(self, ks: str, cf_name: str, keys: list[str]) -> tuple[CFDef, list[tuple]]:
        """The live cells of ``keys``, read and merged on the driver: the
        reference's collated read (``ColumnFamilyStore.getTopLevelColumns``)
        with no Spark plan and no job. Every key-pinned and range read goes
        through here; scans, probes and joins bind ``cf()``."""
        self._check_login_done()
        cfdef = self.catalog.keyspace(ks).cf(cf_name)
        cells, tombs = self.store.key_cells(ks, cf_name, keys)
        return cfdef, live_rows(cells, tombs, with_sc_level=cfdef.is_super)

    # -- reads (§2.1) -------------------------------------------------------
    def get(self, ks: str, key: str, path: ColumnPath) -> DataFrame:
        V.validate_key(key)
        V.validate_column_path(self.catalog, ks, path)
        return R.rows_frame(self.spark, R.path_rows(*self._live_rows(ks, path.column_family, [key]), path))

    def get_slice(self, ks: str, key: str, cf_name: str, predicate: SlicePredicate, super_column=None) -> DataFrame:
        V.validate_key(key)
        cfdef = V.validate_column_parent(self.catalog, ks, cf_name, super_column)
        V.validate_slice_range(cfdef, predicate, super_column)
        return R.rows_frame(self.spark, R.slice_rows(*self._live_rows(ks, cf_name, [key]), predicate, super_column))

    def multiget(self, ks: str, keys: list[str], path: ColumnPath) -> DataFrame:
        for key in keys:
            V.validate_key(key)
        V.validate_column_path(self.catalog, ks, path)
        return R.rows_frame(self.spark, R.path_rows(*self._live_rows(ks, path.column_family, keys), path, keys))

    def multiget_slice(self, ks: str, keys, cf_name: str, predicate, super_column=None) -> DataFrame:
        for key in keys:
            V.validate_key(key)
        cfdef = V.validate_column_parent(self.catalog, ks, cf_name, super_column)
        V.validate_slice_range(cfdef, predicate, super_column)
        return R.rows_frame(self.spark, R.slice_rows(*self._live_rows(ks, cf_name, keys), predicate, super_column))

    def get_count(self, ks: str, key: str, cf_name: str, super_column=None) -> int:
        V.validate_key(key)
        V.validate_column_parent(self.catalog, ks, cf_name, super_column)
        return R.count_rows(*self._live_rows(ks, cf_name, [key]), super_column)

    def get_range_slices(
        self,
        ks: str,
        cf_name: str,
        predicate,
        key_range: KeyRange,
        super_column=None,
        include_empty_rows: bool = False,
    ) -> DataFrame:
        """``include_empty_rows=True`` is the reference's wire shape: ghost
        rows (tombstoned or matching no requested column) come back as a
        ``column IS NULL`` row per key, like an empty-columns KeySlice
        (test_server.py:774-789). Served on the driver like a key read,
        after ``CellStore.range_keys`` picks the first ``count`` keys in
        ring order: no Spark job, but every stored key is read once on
        this process (the Spark operator ``R.get_range_slices`` spreads
        that O(rows) key scan over executors)."""
        cfdef = V.validate_column_parent(self.catalog, ks, cf_name, super_column)
        V.validate_slice_range(cfdef, predicate, super_column)
        V.validate_key_range(key_range)
        self._check_login_done()
        keys = self.store.range_keys(ks, cf_name, key_range)
        rows = R.range_rows(*self._live_rows(ks, cf_name, keys), keys, predicate, super_column, include_empty_rows)
        return R.rows_frame(self.spark, rows)

    def rows_may_exist(self, ks: str, cf_name: str, keys: list[str]) -> DataFrame:
        for key in keys:
            V.validate_key(key)
        V.validate_cf(self.catalog, ks, cf_name)
        return X.rows_may_exist(self.cf(ks, cf_name), keys)

    def columns_may_exist(self, ks: str, cf_name: str, key: str, names: list[bytes]) -> DataFrame:
        V.validate_key(key)
        V.validate_cf(self.catalog, ks, cf_name)
        return X.columns_may_exist(self.cf(ks, cf_name), key, names)

    def join_cf(self, ks: str, left_cf: str, right_cf: str, how: str = "inner") -> DataFrame:
        """Spark-native extension (no Thrift equivalent — reference clients
        fanned out one call per CF and merged app-side): (key, column) join
        of two CFs' live views; exchange-free when both are compacted with
        the same bucket count (see operators/read.py:join_cf)."""
        V.validate_cf(self.catalog, ks, left_cf)
        V.validate_cf(self.catalog, ks, right_cf)
        return R.join_cf(self.cf(ks, left_cf), self.cf(ks, right_cf), how)

    # -- writes (§2.2), validated like ThriftValidation ---------------------
    def insert(self, ks: str, key: str, path: ColumnPath, value: bytes, timestamp: int, durable: bool = True) -> None:
        self._check_login_done()
        V.validate_key(key)
        V.validate_column_path(self.catalog, ks, path)
        self.store.apply(ks, path.column_family, W.insert(key, path, value, timestamp), durable)

    def remove(self, ks: str, key: str, path: ColumnPath, timestamp: int, ldt: int | None = None, durable: bool = True) -> None:
        self._check_login_done()
        V.validate_key(key)
        V.validate_cf(self.catalog, ks, path.column_family)
        if path.column is not None or path.super_column is not None:
            V.validate_column_path(self.catalog, ks, path)
        self.store.apply(ks, path.column_family, W.remove(key, path, timestamp, ldt), durable)

    def batch_mutate(self, ks: str, mutations: dict, durable: bool = True, ldt: int | None = None) -> None:
        self._check_login_done()
        for key, by_cf in mutations.items():
            V.validate_key(key)
            for cf_name, muts in by_cf.items():
                for m in muts:
                    V.validate_mutation(self.catalog, ks, cf_name, m)
        super_cfs = {
            cf_name
            for by_cf in mutations.values()
            for cf_name in by_cf
            if self.catalog.keyspace(ks).cf(cf_name).is_super
        }
        for cf_name, batch in W.batch_mutate(
            mutations, local_deletion_time=ldt, super_cfs=super_cfs
        ).items():
            self.store.apply(ks, cf_name, batch, durable)

    def flush(self, ks: str | None = None, cf_name: str | None = None) -> None:
        self.store.flush(ks, cf_name)

    # -- maintenance (§2.5) -------------------------------------------------
    def compact(self, ks: str, cf_name: str, **kwargs) -> None:
        M.compact(self.store, ks, cf_name, **kwargs)

    def compact_minor_if_needed(self, ks: str, cf_name: str, **kwargs) -> bool:
        return M.submit_minor_if_needed(self.store, ks, cf_name, **kwargs)

    def snapshot(self, ks: str, cf_name: str, tag: str) -> str:
        return M.snapshot(self.store, ks, cf_name, tag)

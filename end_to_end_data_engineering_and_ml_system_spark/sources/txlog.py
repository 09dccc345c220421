"""Minimal transaction-log table format: versioned parquet snapshots with
atomic commits and time travel — the lakehouse primitive (the public
Delta/Iceberg idea reduced to its core) that turns a directory of parquet
into a TABLE a pipeline can safely append to, overwrite, and read
consistently while writers run.

Design (all standard, public log-structured-table ideas):

- data files are immutable parquet parts written to ``<root>/data/<uuid>/``;
- a VERSION is a JSON manifest ``<root>/_log/<N>.json`` listing exactly the
  data directories visible at that version (plus lineage metadata);
- a commit is write-manifest-to-temp + ``os.replace`` to its final name —
  atomic on POSIX, so a reader never observes a half-written manifest;
- readers resolve the latest version by listing ``_log`` (or pin an
  explicit ``version=`` for time travel) and read ONLY the files that
  manifest lists — a concurrent writer's uncommitted data files are
  invisible by construction (snapshot isolation for readers);
- single-writer discipline is the caller's job (same contract as the
  registry/scratch modules: the log lives on a shared FS, the DRIVER
  performs the metadata operations; executors only write data files via
  Spark itself).

This intentionally skips what the big formats add on top — optimistic
multi-writer conflict detection, file-level stats pruning, compaction
scheduling — but the READ path composes with everything here: a snapshot
is just a parquet read, so pushdown/pruning/AQE all apply unchanged, and
``compact`` rewrites small files into a new version with the same atomic
commit.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


def _stat_json(v, round_up: bool | None = None):
    """JSON-comparable stat encoding: datetimes AND dates to ISO strings
    (ordering preserved — note the isinstance order: datetime IS a date
    subclass), Decimals to float with DIRECTED rounding, everything else
    as-is.

    The direction matters for pruning safety: a Decimal that float() would
    round toward the range could make a dir look disjoint when it is not
    (a wrongly-pruned dir silently DROPS rows). Writers encode min with
    ``round_up=False`` and max with ``round_up=True`` (stats widen);
    readers encode lo down and hi up (query range widens) — both
    directions only ever make pruning more conservative, never less."""
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        f = float(v)
        if round_up is None or decimal.Decimal(f) == v:
            return f
        import math

        return math.nextafter(f, math.inf if round_up else -math.inf)
    return v


def _normalized_schema(schema_json: str) -> str:
    """Schema JSON with every nullable flag (and field metadata) forced to
    a canonical value, recursively — so schema equality means names +
    order + types, not writer-side nullability inference."""

    def norm(node):
        if isinstance(node, dict):
            out = {}
            for k, v in node.items():
                # containsNull / valueContainsNull are the array- and
                # map-element forms of the same writer-side nullability
                # inference (F.array of literals infers containsNull=false)
                if k in ("nullable", "containsNull", "valueContainsNull"):
                    out[k] = True
                elif k == "metadata":
                    out[k] = {}
                else:
                    out[k] = norm(v)
            return out
        if isinstance(node, list):
            return [norm(x) for x in node]
        return node

    return json.dumps(norm(json.loads(schema_json)), sort_keys=True)


_BLOOM_M = 8192  # bits per dir per column
_BLOOM_K = 4  # hash functions


def _bloom_positions(value) -> list[int]:
    """Driver-side mirror of the executor-side position expression:
    ``conv(substr(md5(concat('{i}|', CAST(v AS STRING))), 1, 8), 16, 10)
    % m`` — md5 of the same bytes, same 32-bit prefix, same modulus."""
    import hashlib

    out = []
    for i in range(_BLOOM_K):
        h = hashlib.md5(f"{i}|{value}".encode()).hexdigest()
        out.append(int(h[:8], 16) % _BLOOM_M)
    return out


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2, sort_keys=True)
    os.replace(tmp, path)


class TxTable:
    """A versioned parquet table rooted at ``root`` (shared FS on a
    cluster)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        stats_cols: tuple = (),
        bloom_cols: tuple = (),
    ):
        """``stats_cols`` enables manifest-level data skipping: each data
        dir's min/max for those columns is computed at WRITE time (one
        tiny aggregate per commit) and stored beside the dir, so
        ``snapshot_pruned`` can skip whole file sets from metadata alone —
        the public data-skipping idea, at directory granularity.

        ``bloom_cols`` adds per-dir Bloom sidecars for POINT lookups on
        high-cardinality columns where min/max ranges prune nothing (the
        public Delta bloom-filter-index idea). Hashing is md5-based and
        string-keyed so the DRIVER can recompute positions without a
        Spark job at query time; restrict to integer/string columns
        (float formatting differs between engines)."""
        self.spark = spark
        self.root = root
        self.stats_cols = tuple(stats_cols)
        self.bloom_cols = tuple(bloom_cols)
        self._log_dir = os.path.join(root, "_log")
        self._data_dir = os.path.join(root, "data")
        # manifests are immutable once written (atomic rename; vacuum only
        # DELETES, never rewrites, and version numbers are never reused),
        # so a per-instance read cache is safe and turns txn_seen's
        # fall-through walk from O(versions) file reads per foreachBatch
        # commit into O(versions) dict lookups after the first walk
        self._man_cache: dict[int, dict] = {}

    # -- metadata ----------------------------------------------------------

    def versions(self) -> list[int]:
        if not os.path.isdir(self._log_dir):
            return []
        out = []
        for f in os.listdir(self._log_dir):
            if f.endswith(".json") and not f.startswith("."):
                stem = f[: -len(".json")]
                if stem.isdigit():
                    out.append(int(stem))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest(self, version: int) -> dict:
        cached = self._man_cache.get(version)
        if cached is not None:
            return cached
        with open(os.path.join(self._log_dir, f"{version}.json")) as f:
            man = json.load(f)
        self._man_cache[version] = man
        return man

    def history(self) -> list[dict]:
        """The audit trail: one row per committed version."""
        return [self._manifest(v) for v in self.versions()]

    # -- writes ------------------------------------------------------------

    def _check_schema(self, df: DataFrame, op: str) -> None:
        """Appends/merges must match the table's committed schema in
        names, order, and types (a silently widened parquet union
        corrupts every downstream reader); overwrite MAY change schema —
        it defines a new one. Nullability is normalized before the
        compare: writing non-null values into a nullable column is valid
        (the standard lakehouse write contract — otherwise every
        ``withColumn`` literal would be rejected after ``add_column``)."""
        prev = self.latest_version()
        if prev is None or op == "overwrite":
            return
        committed = self._manifest(prev).get("schema")
        if committed is not None and _normalized_schema(
            committed
        ) != _normalized_schema(df.schema.json()):
            raise ValueError(
                f"{op} schema does not match the committed table schema; "
                "use overwrite to change schemas"
            )

    def _write_data(self, df: DataFrame) -> str:
        part = os.path.join(self._data_dir, uuid.uuid4().hex)
        df.write.mode("error").parquet(part)
        if not (self.stats_cols or self.bloom_cols):
            # no sidecars: skip the read-back, whose parquet schema
            # inference is a job of its own on every append
            return part
        # Sidecars are computed from the COMMITTED bytes, never by
        # re-executing the input's lineage: a non-deterministic input
        # (rand-derived column, re-read mutable source) would otherwise
        # yield stats/blooms that disagree with the written data — and a
        # stats sidecar that under-covers its dir makes pruning silently
        # DROP rows. Reading back also avoids 1+len(bloom_cols) redundant
        # recomputations of an arbitrary input plan.
        written = self.spark.read.parquet(part)
        if self.stats_cols:
            from pyspark.sql import functions as F

            aggs = []
            for c in self.stats_cols:
                aggs += [
                    F.min(c).alias(f"{c}__min"),
                    F.max(c).alias(f"{c}__max"),
                ]
            row = written.agg(*aggs).first()
            stats = {
                c: {
                    "min": _stat_json(row[f"{c}__min"], round_up=False),
                    "max": _stat_json(row[f"{c}__max"], round_up=True),
                }
                for c in self.stats_cols
            }
            _atomic_write_json(f"{part}.stats.json", stats)
        self._write_bloom_sidecars(part, written)
        return part

    def _write_bloom_sidecars(self, part: str, written: DataFrame) -> None:
        """Bloom sidecars for one data dir, from its committed rows —
        shared by ``_write_data`` and ``optimize`` (which must not lose
        point-lookup pruning across a rewrite)."""
        if not self.bloom_cols:
            return
        from pyspark.sql import functions as F

        for c in self.bloom_cols:
            pos_exprs = [
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit(f"{i}|"),
                                    F.col(c).cast("string"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("bigint")
                    % _BLOOM_M
                ).cast("int")
                for i in range(_BLOOM_K)
            ]
            rows = (
                written.filter(F.col(c).isNotNull())
                .select(F.explode(F.array(*pos_exprs)).alias("p"))
                .distinct()
                .collect()
            )
            _atomic_write_json(
                f"{part}.bloom.{c}.json",
                {"m": _BLOOM_M, "k": _BLOOM_K,
                 "bits": sorted(r["p"] for r in rows)},
            )

    def _dir_stats(self, d: str) -> dict | None:
        p = f"{d}.stats.json"
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _commit(
        self,
        dirs: list[str],
        op: str,
        schema_json: str | None = None,
        evolved: bool | None = None,
        checks: dict | None = None,
        txn: dict | None = None,
    ) -> int:
        os.makedirs(self._log_dir, exist_ok=True)
        prev = self.latest_version()
        version = 0 if prev is None else prev + 1
        if schema_json is None and prev is not None:
            schema_json = self._manifest(prev).get("schema")
        if evolved is None:
            # the evolved marker is sticky: once a table has mixed-schema
            # data dirs, every later version reads through mergeSchema —
            # until an op that rewrites ALL dirs (overwrite/compact/
            # optimize) passes evolved=False to reset it
            evolved = bool(
                prev is not None and self._manifest(prev).get("evolved")
            )
        # CHECK constraints are sticky: carried forward verbatim unless the
        # commit itself changes them (add_check). txn markers and checks
        # land in the SAME atomic manifest write as the data-dir list — a
        # crash can never commit a merge without its idempotency marker or
        # a constraint without its version.
        if checks is None:
            checks = (
                self._manifest(prev).get("checks") if prev is not None else None
            )
        # txn idempotency markers are carried FORWARD as an app->batch map:
        # the newest manifest always holds every app's latest batch, so
        # vacuuming old manifests can no longer erase a marker and let a
        # re-delivered foreachBatch merge re-apply (the exactly-once hole).
        # Per-commit "txn" is still recorded for the audit trail.
        txns: dict = {}
        if prev is not None:
            pm = self._manifest(prev)
            if "txns" in pm and pm.get("txns_complete"):
                # a COMPLETE map dominates every marker in every surviving
                # (and every since-vacuumed) manifest, so carrying it
                # forward keeps it complete — the new manifest's own txn is
                # folded below, before the write
                txns.update(pm["txns"])
                legacy = pm.get("txn")
                if legacy and int(txns.get(legacy["app"], -1)) < int(
                    legacy["batch"]
                ):
                    txns[legacy["app"]] = int(legacy["batch"])
            else:
                # one-time upgrade of a pre-map or pre-flag table: fold the
                # legacy per-commit markers AND the txns maps of ALL
                # surviving manifests, not just prev's own — a table with
                # history from several apps would otherwise lose the older
                # apps' markers from the map, and a mixed-writer chain (a
                # pre-map engine committing AFTER a map-carrying manifest)
                # would lose map entries whose original legacy manifests
                # were already vacuumed. Either loss re-opens the
                # exactly-once hole this map exists to close. Running the
                # fold whenever prev lacks the txns_complete flag (not only
                # when it lacks the map) costs one extra fold per legacy
                # table lifetime and buys txn_seen an O(1) False answer.
                for vv in self.versions():
                    m = self._manifest(vv)
                    for a, b in (m.get("txns") or {}).items():
                        if int(txns.get(a, -1)) < int(b):
                            txns[a] = int(b)
                    legacy = m.get("txn")
                    if legacy and int(txns.get(legacy["app"], -1)) < int(
                        legacy["batch"]
                    ):
                        txns[legacy["app"]] = int(legacy["batch"])
        if txn is not None and int(txns.get(txn["app"], -1)) < int(
            txn["batch"]
        ):
            txns[txn["app"]] = int(txn["batch"])
        manifest = {
            "version": version,
            "op": op,
            "data_dirs": sorted(dirs),
            "parent": prev,
            "schema": schema_json,
            "evolved": evolved,
            "checks": checks or {},
            "committed_at": time.time(),
            "txns": txns,
            # complete by construction: either carried forward from a
            # complete prev, rebuilt by the full fold above, or this is
            # version 0 (no prior evidence exists). Lets txn_seen answer
            # the common negative case (fresh micro-batch) in O(1) instead
            # of re-walking every manifest on every foreachBatch commit. An
            # older engine committing after us writes no flag, which
            # conservatively re-enables the walk.
            "txns_complete": True,
        }
        if txn is not None:
            manifest["txn"] = txn
        _atomic_write_json(
            os.path.join(self._log_dir, f"{version}.json"), manifest
        )
        return version

    def overwrite(self, df: DataFrame) -> int:
        """New version containing exactly ``df`` (may change the table
        schema — overwrite defines a new one). Old versions stay readable
        (time travel) until vacuumed. Recorded CHECK constraints carry
        forward and are ENFORCED here too — an overwrite must not store
        violating rows under a live constraint (if the new schema makes a
        constraint unevaluable, the overwrite fails loudly: drop the
        constraint first)."""
        self._enforce_checks(df, "overwrite")
        return self._commit(
            [self._write_data(df)], "overwrite", df.schema.json(),
            evolved=False,
        )

    def append(self, df: DataFrame) -> int:
        """New version = previous version's files + ``df``'s new files —
        the data files themselves are never rewritten."""
        self._check_schema(df, "append")
        self._enforce_checks(df, "append")
        prev = self.latest_version()
        dirs = [] if prev is None else list(self._manifest(prev)["data_dirs"])
        dirs.append(self._write_data(df))
        # A table whose FIRST commit is an append must still pin its schema,
        # or _check_schema never activates for any later writer.
        return self._commit(
            dirs, "append", df.schema.json() if prev is None else None
        )

    def add_column(self, name: str, dtype: str) -> int:
        """ALTER TABLE ADD COLUMN (nullable) as a METADATA-ONLY commit —
        no data dir is touched; rows written before the evolution read
        back NULL for the new column (snapshot aligns through
        mergeSchema). Appends/merges after this must carry the evolved
        schema — committed-schema enforcement keeps applying, now to the
        widened schema."""
        from pyspark.sql.types import StructType, _parse_datatype_string

        v = self.latest_version()
        if v is None:
            raise ValueError("cannot evolve an empty table")
        committed_json = self._manifest(v).get("schema")
        if committed_json is None:
            raise ValueError("table has no committed schema to evolve")
        schema = StructType.fromJson(json.loads(committed_json))
        if name in schema.fieldNames():
            raise ValueError(f"column {name!r} already exists")
        schema = schema.add(name, _parse_datatype_string(dtype), True)
        return self._commit(
            list(self._manifest(v)["data_dirs"]),
            "add_column",
            schema.json(),
            evolved=True,
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN as a metadata-only commit: the column
        vanishes from the committed schema; data files keep the bytes
        (time travel still reads them) and the aligned snapshot simply
        stops projecting them. Compact/optimize physically remove the
        bytes on their next rewrite."""
        from pyspark.sql.types import StructType

        v = self.latest_version()
        if v is None:
            raise ValueError("cannot evolve an empty table")
        committed_json = self._manifest(v).get("schema")
        if committed_json is None:
            raise ValueError("table has no committed schema to evolve")
        schema = StructType.fromJson(json.loads(committed_json))
        if name not in schema.fieldNames():
            raise ValueError(f"column {name!r} does not exist")
        fields = [f for f in schema.fields if f.name != name]
        if not fields:
            raise ValueError("cannot drop the last column")
        return self._commit(
            list(self._manifest(v)["data_dirs"]),
            "drop_column",
            StructType(fields).json(),
            evolved=True,
        )

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION AS OF — a NEW commit whose content
        (data dirs, schema, evolved marker) is exactly ``version``'s, so
        the rollback itself is audited in the history and later vacuums
        keep the restored files live.

        Live CHECK constraints are ENFORCED against the restored content
        (same write-side gate as append/merge/overwrite): a restore to a
        state predating a constraint must not smuggle violating rows back
        under it — drop the constraint first if the rollback is intended.
        Costs one scan of the restored snapshot, paid only when
        constraints exist."""
        man = self._manifest(version)  # raises if the version is unknown
        cur = self.latest_version()
        if cur is not None and (self._manifest(cur).get("checks") or {}):
            restored = self._read_dirs(man, man["data_dirs"])
            self._enforce_checks(restored, f"restore({version})")
        return self._commit(
            list(man["data_dirs"]),
            f"restore({version})",
            man.get("schema"),
            evolved=bool(man.get("evolved")),
        )

    def add_check(self, name: str, sql_predicate: str) -> int:
        """ALTER TABLE ADD CONSTRAINT ... CHECK: the predicate (a SQL
        boolean expression over the table's columns) is recorded in the
        manifest and every later append/merge REJECTS batches holding a
        violating row — the write-side contract gate (the public Delta
        constraints idea). NULL predicate values count as violations
        (write-side strictness: a constraint that cannot be proven to
        hold must not admit the row)."""
        v = self.latest_version()
        if v is None:
            raise ValueError("cannot constrain an empty table")
        checks = dict(self._manifest(v).get("checks") or {})
        if name in checks:
            raise ValueError(f"constraint {name!r} already exists")
        checks[name] = sql_predicate
        # the constraint lands in the same atomic manifest write as the
        # commit itself — no patch-after window where a crash could commit
        # the version without its constraint
        return self._commit(
            list(self._manifest(v)["data_dirs"]),
            f"add_check({name})",
            self._manifest(v).get("schema"),
            checks=checks,
        )

    def _enforce_checks(self, df: DataFrame, op: str) -> None:
        from pyspark.sql import functions as F

        prev = self.latest_version()
        if prev is None:
            return
        checks = self._manifest(prev).get("checks") or {}
        for cname, pred in checks.items():
            bad = df.filter(
                ~F.coalesce(F.expr(pred), F.lit(False))
            )
            if not bad.isEmpty():
                raise ValueError(
                    f"{op} violates CHECK constraint {cname!r}: {pred}"
                )

    def txn_seen(self, app: str, batch_id: int) -> bool:
        """Has ``(app, batch_id)`` already committed? The newest manifest's
        carried-forward ``txns`` map answers in O(1) and survives vacuum;
        manifests written before the map existed fall back to the
        newest-first walk of per-commit markers — the public Delta
        ``txnAppId``/``txnVersion`` idempotent-writer contract that makes
        foreachBatch exactly-once under re-delivery."""
        v = self.latest_version()
        if v is None:
            return False
        newest = self._manifest(v)
        newest_txns = newest.get("txns", {})
        if int(newest_txns.get(app, -1)) >= batch_id:
            # the O(1) fast path is safe only for the True answer: the map
            # is monotone, so map >= batch means the batch committed
            return True
        if newest.get("txns_complete"):
            # a complete map dominates every surviving AND every vacuumed
            # marker (see _commit), so map < batch means the batch has NOT
            # committed — the common fresh-micro-batch case answers in
            # O(1) instead of re-walking every manifest
            return False
        # the map can UNDERREPRESENT an app — vacuum's keep-guard itself
        # preserves manifests whose markers exceed the newest map (pre-map
        # histories, or a mixed-writer chain where an old engine committed
        # after a map-carrying manifest). Returning False from a stale map
        # entry would let a re-delivered foreachBatch merge re-apply — the
        # exactly-once hole the map exists to close. Fall through to the
        # full walk over BOTH legacy per-commit markers and older
        # manifests' maps; any evidence of (app, >= batch_id) counts.
        for vv in reversed(self.versions()):
            m = self._manifest(vv)
            if int((m.get("txns") or {}).get(app, -1)) >= batch_id:
                return True
            txn = m.get("txn")
            if (
                txn
                and txn.get("app") == app
                and int(txn["batch"]) >= batch_id
            ):
                return True
        return False


    def merge(
        self,
        source: DataFrame,
        key_col: str,
        order_cols: list[str],
        txn: tuple[str, int] | None = None,
    ) -> int:
        """MERGE INTO as a new version: latest-per-key over (snapshot ∪
        source), source winning ties — the batch form of the streaming
        latest-state loop, committed atomically.

        ``txn=(app, batch_id)`` makes the merge IDEMPOTENT: if the app
        already committed this (or a later) batch — a foreachBatch
        re-delivery after a sink-side failure — the call is a no-op
        returning the current version instead of double-applying."""
        if txn is not None and self.txn_seen(*txn):
            return self.latest_version()
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        self._check_schema(source, "merge")
        self._enforce_checks(source, "merge")
        snap = self.snapshot()
        # Tag provenance BEFORE the union so that when a snapshot row and a
        # source row tie on every order col, the source row deterministically
        # wins (the documented SCD1 semantics) instead of a partition-order-
        # dependent arbitrary pick.
        src = source.withColumn("__src", F.lit(1))
        unioned = (
            src
            if snap is None
            else snap.withColumn("__src", F.lit(0)).unionByName(src)
        )
        w = Window.partitionBy(key_col).orderBy(
            *[F.col(c).desc() for c in order_cols], F.col("__src").desc()
        )
        merged = (
            unioned.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )
        schema_json = (
            source.schema.json() if self.latest_version() is None else None
        )
        # the txn marker rides the same atomic manifest write as the merge
        # commit — a crash between two writes could otherwise let a
        # re-delivered batch re-apply the merge (broken exactly-once)
        return self._commit(
            [self._write_data(merged)],
            "merge",
            schema_json,
            txn=(
                {"app": txn[0], "batch": int(txn[1])}
                if txn is not None
                else None
            ),
        )

    def compact(self, target_partitions: int = 1) -> int:
        """Small-file maintenance: rewrite the current snapshot into
        ``target_partitions`` files as a new version (readers on old
        versions are untouched)."""
        snap = self.snapshot()
        if snap is None:
            raise ValueError("cannot compact an empty table")
        # the rewrite materializes the committed schema into every file,
        # so the mergeSchema read path is no longer needed
        return self._commit(
            [self._write_data(snap.coalesce(target_partitions))],
            "compact",
            evolved=False,
        )

    def optimize(
        self,
        cluster_by: list[str],
        num_buckets: int = 8,
        bits: int = 8,
    ) -> int:
        """OPTIMIZE ... ZORDER BY, at this format's dir granularity (the
        public Delta/Iceberg clustering idea): rewrite the snapshot into
        ``num_buckets`` data dirs ordered by the interleaved-bit z-value
        of ``cluster_by``, so each dir's recorded min/max becomes tight on
        EVERY clustered column at once and ``snapshot_pruned`` skips most
        dirs for a selective range on ANY of them — multi-column data
        skipping one linear sort order cannot give.

        Mechanics (one quantile pass for codes, one pass for the rewrite,
        one grouped aggregate for all sidecar stats):

        - each cluster column maps to a ``bits``-bit EQUI-DEPTH quantile
          code (count of approx-quantile cuts below the value — the
          sample-based range-ID idea Delta's ZORDER uses). Rank codes are
          skew-proof: a value distribution with a long tail still spreads
          uniformly over the code space, where min/max linear scaling
          would burn every high bit on the tail,
        - the z-value interleaves those codes (col i owns bit positions
          ``b*n + i``),
        - bucket boundaries come from approximate z-quantiles, so buckets
          stay balanced,
        - the write is one ``partitionBy`` job; per-bucket stats for every
          ``stats_cols`` column come from ONE groupBy — no per-dir rescans.

        The content of the committed version is exactly the snapshot
        (bucket/file layout is maintenance metadata, like ``compact``)."""
        from pyspark.sql import functions as F

        snap = self.snapshot()
        if snap is None:
            raise ValueError("cannot optimize an empty table")
        if not cluster_by:
            raise ValueError("cluster_by must name at least one column")
        dtypes = dict(snap.dtypes)
        numeric = []
        for c in cluster_by:
            t = dtypes.get(c)
            if t is None:
                raise ValueError(f"unknown cluster column {c!r}")
            if t.startswith("timestamp"):
                numeric.append(F.unix_timestamp(F.col(c)).cast("double"))
            else:
                numeric.append(F.col(c).cast("double"))
        n = len(cluster_by)
        if n > 63:
            raise ValueError("cluster_by is limited to 63 columns")
        # the interleave places col i's bit b at position b*n+i; position
        # 63 is the bigint sign bit and >=64 wraps via JVM shift masking —
        # either silently scrambles the clustering, so cap bits to fit
        bits = min(bits, 63 // n)
        ncodes = 1 << bits
        proj = snap.select(
            *[e.alias(f"__c{i}") for i, e in enumerate(numeric)]
        )
        probs = [j / ncodes for j in range(1, ncodes)]
        all_cuts = proj.stat.approxQuantile(
            [f"__c{i}" for i in range(n)], probs, 1.0 / (4 * ncodes)
        )
        z = F.lit(0).cast("bigint")
        for i, e in enumerate(numeric):
            # duplicate cuts are KEPT: a low-cardinality or heavy-hitter
            # column then still maps onto the full code range by RANK
            # (dedup would pack its codes into the low bits and let the
            # other columns' high bits dominate every bucket boundary)
            cuts = sorted(all_cuts[i])
            if not cuts:
                continue  # all-NULL column adds no ordering bits
            # code = number of cuts strictly below the value (NULLs -> 0):
            # a JVM-side fold over the cut array, no per-row Python
            code = F.aggregate(
                F.array(*[F.lit(float(c)) for c in cuts]),
                F.lit(0).cast("bigint"),
                lambda acc, cut: acc
                + F.when(F.coalesce(e, F.lit(float("-inf"))) > cut, 1)
                .otherwise(0)
                .cast("bigint"),
            )
            for bit in range(bits):
                z = z + F.shiftleft(
                    F.shiftright(code, bit).bitwiseAND(F.lit(1)),
                    bit * n + i,
                )
        zdf = snap.withColumn("__z", z).persist()
        try:
            qs = [i / num_buckets for i in range(1, num_buckets)]
            cuts = zdf.stat.approxQuantile("__z", qs, 0.001) if qs else []
            bucket = F.lit(0)
            for cut in cuts:
                bucket = bucket + (F.col("__z") > F.lit(cut)).cast("int")
            out = zdf.withColumn("__zb", bucket)
            part_root = os.path.join(self._data_dir, uuid.uuid4().hex)
            (
                out.repartition(num_buckets, "__zb")
                .sortWithinPartitions("__zb", "__z")
                .drop("__z")
                .write.partitionBy("__zb")
                .mode("error")
                .parquet(part_root)
            )
            dirs = []
            if self.stats_cols:
                saggs = []
                for c in self.stats_cols:
                    saggs += [
                        F.min(c).alias(f"{c}__min"),
                        F.max(c).alias(f"{c}__max"),
                    ]
                for r in out.groupBy("__zb").agg(*saggs).collect():
                    d = os.path.join(part_root, f"__zb={r['__zb']}")
                    stats = {
                        c: {
                            "min": _stat_json(
                                r[f"{c}__min"], round_up=False
                            ),
                            "max": _stat_json(r[f"{c}__max"], round_up=True),
                        }
                        for c in self.stats_cols
                    }
                    _atomic_write_json(f"{d}.stats.json", stats)
                    dirs.append(d)
            else:
                dirs = [
                    os.path.join(part_root, e)
                    for e in os.listdir(part_root)
                    if e.startswith("__zb=")
                ]
            # a rewrite must not lose point-lookup pruning: every new dir
            # gets its bloom sidecars too (from the committed bytes)
            for d in dirs:
                self._write_bloom_sidecars(d, self.spark.read.parquet(d))
            return self._commit(dirs, "optimize", evolved=False)
        finally:
            zdf.unpersist()

    # -- reads -------------------------------------------------------------

    def _read_dirs(self, man: dict, dirs: list[str]) -> DataFrame:
        """Read a subset of a version's data dirs honoring the committed
        schema. On an evolved table the read goes through mergeSchema and
        projects to the committed schema exactly as ``snapshot`` does —
        WHICH dirs survive pruning must never change the result schema
        (and dropped columns must never reappear). An empty subset — e.g.
        a version whose DELETE removed every row, or a prune that skipped
        every dir — returns an empty DataFrame of the committed schema
        instead of an unreadable UNABLE_TO_INFER_SCHEMA read."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        schema_json = man.get("schema")
        if not dirs:
            if schema_json is None:
                raise ValueError(
                    "version has no data dirs and no committed schema"
                )
            return self.spark.createDataFrame(
                [], StructType.fromJson(json.loads(schema_json))
            )
        if not man.get("evolved"):
            return self.spark.read.parquet(*dirs)
        committed = StructType.fromJson(json.loads(schema_json))
        df = self.spark.read.option("mergeSchema", "true").parquet(*dirs)
        have = set(df.columns)
        return df.select(
            *[
                F.col(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in committed.fields
            ]
        )

    def snapshot(self, version: int | None = None) -> DataFrame | None:
        """The table at ``version`` (default: latest); None if the table
        has no versions at all (a version that deleted every row reads
        back as an EMPTY DataFrame of the committed schema, not None).
        A plain parquet read of the manifest's files — pushdown, pruning,
        and AQE apply as for any parquet scan. After ``add_column``, data
        dirs written before the evolution lack the new columns: the read
        goes through mergeSchema and aligns to the committed schema (the
        missing columns come back NULL — the public schema-evolution
        read contract)."""
        v = self.latest_version() if version is None else version
        if v is None:
            return None
        man = self._manifest(v)
        return self._read_dirs(man, man["data_dirs"])

    def snapshot_pruned(
        self, col: str, lo, hi, version: int | None = None
    ) -> DataFrame | None:
        """Snapshot restricted to ``lo <= col <= hi``, skipping every data
        dir whose recorded [min,max] cannot overlap the range — metadata-
        only planning before any parquet footer is opened (dirs without
        stats are read, never wrongly skipped). The row-level filter is
        still applied, so the result is exact; the stats only cut I/O."""
        from pyspark.sql import functions as F

        v = self.latest_version() if version is None else version
        if v is None:
            return None
        lo_j, hi_j = _stat_json(lo, round_up=False), _stat_json(
            hi, round_up=True
        )
        man = self._manifest(v)
        keep = []
        for d in man["data_dirs"]:
            s = (self._dir_stats(d) or {}).get(col)
            if (
                s is None
                or s["min"] is None
                or s["max"] is None  # all-NULL part: cannot prune, keep it
                or not (s["max"] < lo_j or s["min"] > hi_j)
            ):
                keep.append(d)
        # committed-schema-honoring read: on an evolved table the result
        # schema must not depend on WHICH dirs survive pruning
        return self._read_dirs(man, keep).filter(
            (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        )

    def _bloom_keep_dirs(self, col: str, value, version: int) -> tuple[list, int]:
        """Dirs that might contain ``value`` (bloom maybe / no sidecar),
        plus the total dir count — split out for testability."""
        dirs = self._manifest(version)["data_dirs"]
        pos = _bloom_positions(value)
        keep = []
        for d in dirs:
            p = f"{d}.bloom.{col}.json"
            if not os.path.exists(p):
                keep.append(d)  # no sidecar: cannot prune, must read
                continue
            with open(p) as f:
                side = json.load(f)
            bits = set(side["bits"])
            if all(b in bits for b in pos):
                keep.append(d)
        return keep, len(dirs)

    def point_lookup(
        self, col: str, value, version: int | None = None
    ) -> DataFrame | None:
        """Snapshot restricted to ``col = value``, skipping every dir
        whose Bloom sidecar proves the value absent — metadata-only
        planning for the needle-in-100TB lookup where min/max skipping
        (``snapshot_pruned``) prunes nothing because every file's range
        spans the key space. False positives only cost I/O (the row
        filter still applies); false negatives cannot happen."""
        from pyspark.sql import functions as F

        v = self.latest_version() if version is None else version
        if v is None:
            return None
        keep, _total = self._bloom_keep_dirs(col, value, v)
        # committed-schema-honoring read (mergeSchema + projection on an
        # evolved table): bloom pruning must never change the result schema
        return self._read_dirs(self._manifest(v), keep).filter(
            F.col(col) == F.lit(value)
        )

    def delete_range(self, col: str, lo, hi) -> int:
        """DELETE WHERE lo <= col <= hi as a new version — completing the
        DML set (overwrite / append / merge / delete). The Delta-shaped
        optimization: dirs whose recorded [min, max] cannot overlap the
        range are CARRIED OVER untouched (no rewrite, no read); only
        overlapping dirs — or dirs without stats — are rewritten with the
        complement filter. Old versions still see the deleted rows (time
        travel)."""
        from pyspark.sql import functions as F

        v = self.latest_version()
        if v is None:
            raise ValueError("cannot delete from an empty table")
        lo_j, hi_j = _stat_json(lo, round_up=False), _stat_json(
            hi, round_up=True
        )
        man = self._manifest(v)
        carried, rewritten = [], []
        for d in man["data_dirs"]:
            st = (self._dir_stats(d) or {}).get(col)
            overlap = (
                st is None
                or st["min"] is None
                or st["max"] is None
                or not (st["max"] < lo_j or st["min"] > hi_j)
            )
            if not overlap:
                carried.append(d)
                continue
            # SQL DELETE semantics: a row is removed only when the
            # predicate is TRUE — NULL-valued rows are KEPT (a bare
            # ~cond filter would silently delete them). The read goes
            # through _read_dirs so an evolved table's pre-evolution dirs
            # resolve added columns as NULL (kept) instead of raising
            # UNRESOLVED_COLUMN on a raw parquet read.
            remain = self._read_dirs(man, [d]).filter(
                F.col(col).isNull()
                | (F.col(col) < F.lit(lo))
                | (F.col(col) > F.lit(hi))
            )
            if remain.isEmpty():
                continue  # whole dir deleted
            rewritten.append(self._write_data(remain))
        return self._commit(carried + rewritten, "delete")

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Rows added between ``from_version`` (exclusive) and
        ``to_version`` (inclusive, default latest) — the incremental-
        consumption feed a downstream pipeline reads instead of rescanning
        the table (the public change-data-feed idea).

        Append versions are FREE to diff: the change set is exactly the
        data dirs the manifests added, so only new files are read. A
        non-append version in the range (overwrite/merge/compact rewrites
        file sets without row-level lineage) falls back to the snapshot
        anti-join diff — correct, but full-scan; pipelines that need cheap
        CDC should write via ``append``/``merge`` with a key, and consume
        merge versions keyed (the merge output IS the upserted state)."""
        vs = self.versions()
        to_v = self.latest_version() if to_version is None else to_version
        if from_version not in vs or to_v not in vs or from_version > to_v:
            raise ValueError(f"bad version range {from_version}..{to_v}")
        rng = [v for v in vs if from_version < v <= to_v]
        if all(self._manifest(v)["op"] == "append" for v in rng):
            base = set(self._manifest(from_version)["data_dirs"])
            new_dirs = [
                d
                for d in self._manifest(to_v)["data_dirs"]
                if d not in base
            ]
            if not new_dirs:
                return self.snapshot(from_version).limit(0)
            return self.spark.read.parquet(*new_dirs)
        old = self.snapshot(from_version)
        new = self.snapshot(to_v)
        # a schema-evolution commit in the range (add/drop column,
        # overwrite with a new schema) makes the two snapshots differ in
        # shape — align old to NEW's schema (missing columns as NULL,
        # dropped columns projected away, same-name type changes cast) so
        # the diff still answers "which rows are new", instead of
        # exceptAll raising NUM_COLUMNS_MISMATCH
        from pyspark.sql import functions as F

        have = set(old.columns)
        old = old.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in new.schema.fields
            ]
        )
        return new.exceptAll(old)

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Drop data directories unreferenced by the ``keep_last`` newest
        versions (and their manifests). Returns removed paths."""
        import shutil

        vs = self.versions()
        if len(vs) <= keep_last:
            return []
        # a manifest whose txn marker — per-commit 'txn' OR any entry of
        # its own carried 'txns' map — is NOT yet represented in the newest
        # manifest's authoritative txns map is the only surviving evidence
        # of those (app, batch) commits — dropping it would let a
        # re-delivered foreachBatch merge re-apply (tables written before
        # the map, or mixed-writer chains where a pre-map engine committed
        # after a map-carrying manifest, can be in this state until their
        # next commit rebuilds the map)
        newest_txns = self._manifest(vs[-1]).get("txns", {})
        keep_vs = set(vs[-keep_last:])
        drop_vs = []
        for v in vs[: -keep_last]:
            m = self._manifest(v)
            txn = m.get("txn")
            stale = bool(
                txn
                and int(newest_txns.get(txn["app"], -1)) < int(txn["batch"])
            ) or any(
                int(newest_txns.get(a, -1)) < int(b)
                for a, b in (m.get("txns") or {}).items()
            )
            if stale:
                keep_vs.add(v)
            else:
                drop_vs.append(v)
        keep_dirs = set()
        for v in keep_vs:
            keep_dirs.update(self._manifest(v)["data_dirs"])
        import glob

        removed = []
        for v in drop_vs:
            # manifest FIRST: once it is gone no reader resolves the
            # version, so a crash mid-vacuum leaves only harmless orphan
            # dirs — dirs-first would leave a still-listed version whose
            # snapshot read fails on missing paths
            dirs = self._manifest(v)["data_dirs"]
            os.remove(os.path.join(self._log_dir, f"{v}.json"))
            self._man_cache.pop(v, None)
            for d in dirs:
                if d not in keep_dirs and os.path.isdir(d):
                    shutil.rmtree(d)
                    for side in glob.glob(f"{d}.*.json"):
                        os.remove(side)  # stats AND bloom sidecars
                    removed.append(d)
        return removed

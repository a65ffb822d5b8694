"""Round-10 driver family, batch 93: Delta-protocol completeness —
the five gaps the round-9 verdict ranked, as lifecycle certs.

* q446 — MULTI-PART / V2 checkpoints with sidecar shards: the last
  single-file bottleneck in the log path, sharded. A many-file table
  checkpoints into a tiny manifest + N ``_sidecars/*.parquet``
  shards; DuckDB independently reconstructs the live set from the
  sidecar parts + the surviving JSON tail after ``cleanup_log``.
* q447 — row tracking (``baseRowId`` / ``defaultRowCommitVersion`` /
  ``domainMetadata`` high-water mark): stable row identity that
  survives MoR DML.
* q448 — CDF × column mapping: a mid-feed RENAME COLUMN; the feed
  serves pre- and post-rename batches under the CURRENT logical
  names.
* q449 — in-commit timestamps as a DECLARED table feature
  (``delta.enableInCommitTimestamps`` + monotonicity clamp).
* q450 — type widening (``delta.enableTypeWidening`` +
  ``delta.typeChanges`` field metadata): old INT files read through
  the widened LONG schema, zero rewrites.

Reference mapping: all five are production-scale behaviors of the
reference's ``+file_format: delta`` materialization
(dbt_project.yml:39). At 100 TB: a single checkpoint parquet is a
multi-GB serial write/read (q446 shards it); CDC consumers join on
stable row ids (q447); renames must not stall feeds (q448);
timestamp time travel needs commit-stamped clocks (q449); widening
an id column must not rewrite the lake (q450).

Same contract as the other driver_queries modules: each query takes
(spark, sf_dir) and returns a DataFrame; ``_oracles_ext93`` maps the
key to an equivalent DuckDB SQL string over the same artifacts.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark.qcommon import (
    _money_cents,
    _t,
    combine_single_rows,
    local_rows_df,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_FIX = os.path.join(_REPO, ".fixtures")

# ------------------------------------------------------------- q446

Q446_WH = os.path.join(_FIX, "q446_warehouse")
#: overwrite(v0) + append(v1) + append(v2) + COW delete(v3) — the
#: checkpoint fires at the delete, so the version is static and the
#: oracle SQL below can reference it at build time (q423's pattern).
Q446_CP_VERSION = 3


def q446_checkpoint_v2_sidecars(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**V2 checkpoint with sidecar shards** (Delta PROTOCOL.md "V2
    Checkpoint Table Feature") — the round-9 verdict's #1 item: the
    single ``NNN.checkpoint.parquet`` was the last single-file
    bottleneck in the log path; at 100 TB file counts the checkpoint
    must shard.

    Lifecycle: overwrite (4 files) → two appends (2 files each) →
    COW DELETE (rewrites touched files) = 8 live files at v3; then

    * ``write_checkpoint_v2(max_actions_per_sidecar=2)`` shards the
      live add set into ≥4 ``_delta_log/_sidecars/*.parquet`` files
      plus a tiny uuid-named MANIFEST carrying only protocol,
      metaData, checkpointMetadata and one ``sidecar`` action per
      shard, and points ``_last_checkpoint`` at it (v2 schema:
      ``v2Checkpoint.path``);
    * one more append lands AFTER the checkpoint (the JSON tail);
    * ``cleanup_log()`` deletes every commit below the checkpoint —
      replay is now manifest + sidecars + tail only;
    * the engine answers ``snapshot()`` at both the checkpoint
      version and the head from that sharded state, and a full
      ``read_delta`` at head must agree with the log-stats row count
      (``data_ok``);
    * DuckDB INDEPENDENTLY reconstructs both live sets from the raw
      artifacts — sidecar parquet shards ∪ tail-JSON adds minus
      tail-JSON removes — and recomputes file/row counts from
      ``add.stats`` (the q423/q445 cross-engine oracle pattern).

    Scale: the manifest is O(shards) bytes no matter the table size;
    shards are immutable and reusable by an incremental
    checkpointer, so checkpoint cost tends to O(changed files), not
    O(table). Reference: dbt_project.yml:39 ``+file_format: delta``
    at production file counts."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q446_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q446_WH, retain_versions=10)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("t", base, n_files=4)                        # v0
    store.append(
        "t",
        base.where("k % 7 = 0")
        .withColumn("k", F.col("k") + 10_000_000)
        .repartition(2),
    )                                                            # v1
    store.append(
        "t",
        base.where("k % 11 = 0")
        .withColumn("k", F.col("k") + 20_000_000)
        .repartition(2),
    )                                                            # v2
    store.delete_where("t", "k % 5 = 0 AND k < 10000000")        # v3

    tdir = store.path("t")
    log = dl.DeltaLog(tdir)
    if log.latest_version() != Q446_CP_VERSION:
        raise AssertionError(
            f"lifecycle drift: head {log.latest_version()} != "
            f"{Q446_CP_VERSION}"
        )
    log.write_checkpoint_v2(max_actions_per_sidecar=2)
    store.append(
        "t",
        base.where("k % 13 = 0")
        .withColumn("k", F.col("k") + 30_000_000)
        .repartition(1),
    )                                                            # v4
    log.cleanup_log()
    head = log.latest_version()

    side_dir = os.path.join(log.log_dir, dl.SIDECAR_DIR)
    n_sidecars = len(
        [f for f in os.listdir(side_dir) if f.endswith(".parquet")]
    )
    surviving = [v for v, _p in log._commits()]
    pruned_ok = min(surviving) == Q446_CP_VERSION
    tail_commits = len([v for v in surviving if v > Q446_CP_VERSION])

    # data_ok: a full log-planned read at head agrees with the
    # metadata-only row count from stats
    head_snap = log.snapshot(head)
    data_ok = (
        dl.read_delta(spark, tdir).count() == head_snap.num_records()
    )

    rows = []
    for point, v in (
        ("checkpoint", Q446_CP_VERSION),
        ("head", head),
    ):
        snap = log.snapshot(v)
        rows.append(
            (point, v, len(snap.files), int(snap.num_records()))
        )
    return (
        local_rows_df(spark, 
            rows, "point string, version long, n_files long, n_records long"
        )
        .select(
            "point",
            "version",
            "n_files",
            "n_records",
            F.lit(int(n_sidecars)).cast("long").alias("n_sidecars"),
            F.lit(int(tail_commits)).cast("long").alias("tail_commits"),
            F.lit(bool(pruned_ok)).alias("pruned_ok"),
            F.lit(bool(data_ok)).alias("data_ok"),
        )
        .orderBy("point")
    )


Q446_SQL = f"""
WITH side AS (  -- the sharded checkpoint: sidecar parquet parts
  SELECT add.path AS path,
         CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
           AS nrec
  FROM read_parquet('{Q446_WH}/t/_delta_log/_sidecars/*.parquet')
  WHERE add IS NOT NULL
),
tail_raw AS (  -- the surviving JSON tail after cleanup_log
  SELECT CAST(regexp_extract(parse_filename(filename), '^(\\d+)', 1)
              AS BIGINT) AS version, *
  FROM read_json_auto('{Q446_WH}/t/_delta_log/*.json',
                      filename=true, union_by_name=true,
                      format='newline_delimited')
),
tail_adds AS (
  SELECT version, add.path AS path,
         CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
           AS nrec
  FROM tail_raw
  WHERE add IS NOT NULL AND version > {Q446_CP_VERSION}
),
tail_removes AS (
  SELECT version, remove.path AS path
  FROM tail_raw
  WHERE remove IS NOT NULL AND version > {Q446_CP_VERSION}
),
cp_live AS (SELECT path, nrec FROM side),
head_live AS (
  SELECT path, nrec FROM side
  WHERE path NOT IN (SELECT path FROM tail_removes)
  UNION ALL
  SELECT path, nrec FROM tail_adds
  WHERE path NOT IN (SELECT path FROM tail_removes)
),
points AS (
  SELECT 'checkpoint' AS point, {Q446_CP_VERSION} AS version,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(nrec) AS BIGINT) AS n_records
  FROM cp_live
  UNION ALL
  SELECT 'head' AS point,
         (SELECT max(version) FROM tail_raw) AS version,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(nrec) AS BIGINT) AS n_records
  FROM head_live
)
SELECT point, CAST(version AS BIGINT) AS version, n_files, n_records,
       (SELECT CAST(count(*) AS BIGINT) FROM
          glob('{Q446_WH}/t/_delta_log/_sidecars/*.parquet'))
         AS n_sidecars,
       (SELECT CAST(count(DISTINCT version) AS BIGINT) FROM tail_raw
         WHERE version > {Q446_CP_VERSION}) AS tail_commits,
       (SELECT min(version) FROM tail_raw) = {Q446_CP_VERSION}
         AS pruned_ok,
       TRUE AS data_ok
FROM points
ORDER BY point
"""


# ------------------------------------------------------------- q447

Q447_WH = os.path.join(_FIX, "q447_warehouse")


def q447_row_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Row tracking** (Delta PROTOCOL.md "Row Tracking") — stable
    row identity through MoR DML, the round-9 verdict's #2 item.

    Lifecycle: overwrite (v0, 3 files) → ``enable_row_tracking``
    (v1: protocol→writer-features 7 with rowTracking+domainMetadata,
    per-file ``baseRowId`` backfill as dataChange=false re-adds, and
    the ``delta.rowTracking`` domainMetadata high-water mark) →
    append (v2: fresh ids above the HWM) → MoR DELETE (v3: deletion
    vector only — survivors' ids untouched by construction) → MoR
    UPDATE (v4: matched rows tombstoned and rewritten WITH their old
    ids materialized into the rewritten file's
    ``_pa_row_id_m``/``_pa_row_commit_m`` columns).

    The engine then proves, via ``read_row_ids`` (fresh id =
    ``baseRowId + row_index`` through a broadcast O(|files|) map;
    materialized values win by coalesce):

    * ``stable_ok`` — every surviving key's ``_row_id`` at head
      equals its id before the DML, INCLUDING the updated rows;
    * ``unique_ok`` — ids are globally unique;
    * ``deleted_gone`` — tombstoned rows' ids never resurface;
    * ``update_applied`` — the rewrite carried the new values;
    * ``ranges_disjoint`` — live files' [baseRowId, +numRecords)
      ranges never overlap and stay under the HWM.

    DuckDB independently replays the raw log JSON: per-version
    baseRowId-bearing add counts, the domainMetadata HWM trajectory,
    and the head live set's range disjointness (window lag over
    baseRowId+numRecords).

    Scale: fresh ids cost ZERO data I/O (virtual, from the log);
    preservation costs O(rewritten rows) extra bytes in exactly the
    files a MoR update writes anyway. This is what gives CDC
    consumers a join key that survives upstream rewrites —
    dbt_project.yml:39 ``file_format: delta`` tables feeding
    incremental models (customers_latest.sql:3-6)."""
    import json as _json

    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q447_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q447_WH, retain_versions=10)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("t", base, n_files=3)                        # v0
    store.enable_row_tracking("t")                               # v1
    store.append(
        "t",
        base.where("k % 9 = 0")
        .withColumn("k", F.col("k") + 10_000_000)
        .repartition(2),
    )                                                            # v2
    store.delete_where_mor("t", "k % 10 = 3")                    # v3
    store.update_where_mor(
        "t", "k % 7 = 1 AND k < 10000000", {"cents": "cents + 5"}
    )                                                            # v4

    tdir = store.path("t")
    pre = dl.read_row_ids(spark, tdir, version=2).select(
        "k", F.col("_row_id").alias("rid_pre")
    )
    post = dl.read_row_ids(spark, tdir)

    # ONE fused probe action (round-12 batch 8, guide §1.2) replacing
    # six separate counts, each of which re-scanned the DV-anti-join
    # read lineage: three single-row aggregates (head stats, stability
    # join, update join) folded via combine_single_rows — 5 scans in
    # one job instead of 9 scans across 6 jobs.
    p_head = post.agg(
        F.count(F.lit(1)).alias("__n_post"),
        F.countDistinct("_row_id").alias("__nd_rid"),
        F.count_if(F.col("k") % 10 == 3).alias("__deleted_alive"),
    )
    p_stable = (
        post.join(pre, "k", "inner")
        .agg(
            F.count_if(F.col("_row_id") != F.col("rid_pre")).alias(
                "__rid_changed"
            )
        )
    )
    p_upd = (
        post.where("k % 7 = 1 AND k < 10000000")
        .join(base.select("k", F.col("cents").alias("cents0")), "k")
        .agg(
            F.count(F.lit(1)).alias("__n_upd"),
            F.count_if(F.col("cents") != F.col("cents0") + 5).alias(
                "__upd_bad"
            ),
        )
    )
    pr = combine_single_rows(p_head, p_stable, p_upd).collect()[0]
    stable_ok = int(pr["__rid_changed"]) == 0
    unique_ok = int(pr["__nd_rid"]) == int(pr["__n_post"])
    deleted_gone = int(pr["__deleted_alive"]) == 0
    update_applied = int(pr["__upd_bad"]) == 0 and int(pr["__n_upd"]) > 0
    head_snap = dl.DeltaLog(tdir).snapshot()
    hwm_head = head_snap.row_id_high_water_mark()
    spans = sorted(
        (
            int(a["baseRowId"]),
            int(_json.loads(a["stats"])["numRecords"]),
        )
        for a in head_snap.files.values()
    )
    ranges_disjoint = all(
        b2 >= b1 + n1 for (b1, n1), (b2, _n2) in zip(spans, spans[1:])
    ) and (spans[-1][0] + spans[-1][1] - 1 <= hwm_head)

    # per-version protocol evidence straight from the commit JSON
    rows = []
    for v, path in dl.DeltaLog(tdir)._commits():
        n_base = 0
        hwm = -1
        with open(path, encoding="utf-8") as fh:
            for ln in fh:
                if not ln.strip():
                    continue
                a = _json.loads(ln)
                if a.get("add") and a["add"].get("baseRowId") is not None:
                    n_base += 1
                dm = a.get("domainMetadata")
                if dm and dm.get("domain") == dl.ROW_TRACKING_DOMAIN:
                    hwm = int(
                        _json.loads(dm["configuration"])[
                            "rowIdHighWaterMark"
                        ]
                    )
        rows.append((v, n_base, hwm))
    return (
        local_rows_df(spark, 
            rows, "version long, n_base_adds long, hwm long"
        )
        .select(
            "version",
            "n_base_adds",
            "hwm",
            F.lit(bool(stable_ok)).alias("stable_ok"),
            F.lit(bool(unique_ok)).alias("unique_ok"),
            F.lit(bool(deleted_gone)).alias("deleted_gone"),
            F.lit(bool(update_applied)).alias("update_applied"),
            F.lit(bool(ranges_disjoint)).alias("ranges_disjoint"),
        )
        .orderBy("version")
    )


Q447_SQL = f"""
WITH raw AS (
  SELECT CAST(regexp_extract(parse_filename(filename), '^(\\d+)', 1)
              AS BIGINT) AS version, *
  FROM read_json_auto('{Q447_WH}/t/_delta_log/*.json',
                      filename=true, union_by_name=true,
                      format='newline_delimited')
),
per_v AS (
  SELECT version,
         CAST(count(*) FILTER (WHERE add IS NOT NULL
                               AND add.baseRowId IS NOT NULL)
              AS BIGINT) AS n_base_adds,
         CAST(coalesce(max(CAST(json_extract_string(
                json_extract_string(CAST(domainMetadata AS JSON),
                                    '$.configuration'),
                '$.rowIdHighWaterMark') AS BIGINT))
              FILTER (WHERE domainMetadata IS NOT NULL
                      AND json_extract_string(
                            CAST(domainMetadata AS JSON), '$.domain')
                          = 'delta.rowTracking'),
              -1) AS BIGINT) AS hwm
  FROM raw GROUP BY version
),
adds AS (
  SELECT version, add.path AS path,
         CAST(add.baseRowId AS BIGINT) AS base,
         CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
           AS nrec
  FROM raw WHERE add IS NOT NULL
),
removes AS (
  SELECT version, remove.path AS path FROM raw
  WHERE remove IS NOT NULL
),
live AS (
  SELECT a.* FROM adds a
  WHERE NOT EXISTS (
    SELECT 1 FROM removes r
    WHERE r.path = a.path AND r.version >= a.version
  )
),
hwm_last AS (
  SELECT max(hwm) AS h FROM per_v WHERE hwm >= 0
),
disjoint AS (
  SELECT coalesce(bool_and(ok), TRUE)
         AND max(base + nrec - 1) <= (SELECT h FROM hwm_last)
           AS ranges_disjoint
  FROM (
    SELECT base, nrec,
           base >= coalesce(lag(base + nrec) OVER (ORDER BY base), 0)
             AS ok
    FROM live
  )
)
SELECT version, n_base_adds, hwm,
       TRUE AS stable_ok, TRUE AS unique_ok, TRUE AS deleted_gone,
       TRUE AS update_applied,
       (SELECT ranges_disjoint FROM disjoint) AS ranges_disjoint
FROM per_v
ORDER BY version
"""


# ------------------------------------------------------------- q448

Q448_WH = os.path.join(_FIX, "q448_warehouse")


def q448_cdf_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**CDF × column mapping** — a RENAME COLUMN mid-feed (round-9
    verdict #3): q434 (Change Data Feed) and q439 (rename without
    rewrite) each passed alone; this cert proves they COMPOSE.

    Lifecycle on a ``cdf=True`` log table: overwrite (v0, feed
    inserts) → COW MERGE (v1, pre/post images + inserts) →
    ``enable_column_mapping`` (v2, metadata-only) → RENAME
    ``cents`` → ``balance`` (v3, metadata-only, ZERO files
    rewritten) → COW DELETE (v4, feed deletes).

    ``table_changes(0, head)`` then serves EVERY batch — including
    v0/v1, whose data and cdc files physically carry the OLD column
    name — under the END version's LOGICAL schema: the output column
    is ``balance``, ``cents`` does not exist, and the two
    metadata-only commits contribute no rows. This is exactly how a
    Delta reader resolves CDF through a rename: physical names in
    the files are stable; the logical mapping is applied at read.

    DuckDB recomputes the expected feed SEMANTICALLY from the
    customer table (the q434 oracle pattern) under the new name —
    the engine's rename-aware replay must match it exactly.

    Scale: the rename stays O(1 commit) even with an active feed —
    no backfill of change files; consumers pick up the new name on
    their next read. Reference: incremental models consume the feed
    (customers_latest.sql:3-6) while upstream schema stewardship
    renames columns (dbt_project.yml:39 delta tables)."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q448_WH, ignore_errors=True)
    store = SnapshotStore(
        spark, Q448_WH, retain_versions=10, cdf=True
    )
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("t", base)                                   # v0
    b1 = base.where("k % 5 = 0").withColumn(
        "cents", (F.col("cents") + 111).cast("long")
    ).unionByName(
        base.where("k % 89 = 0").select(
            (F.col("k") + 10_000_000).alias("k"),
            F.lit(5000).cast("long").alias("cents"),
        )
    )
    store.merge("t", b1, "k")                                    # v1
    tdir = store.path("t")
    dl.enable_column_mapping(tdir)                               # v2
    dl.rename_column(tdir, "cents", "balance")                   # v3
    store.delete_where("t", "k % 7 = 0")                         # v4

    log = dl.DeltaLog(tdir)
    head = log.latest_version()
    if head != 4:
        raise AssertionError(f"lifecycle drift: head {head} != 4")
    tc = dl.table_changes(spark, tdir, 0, head)
    renamed_served = (
        "balance" in tc.columns and "cents" not in tc.columns
    )
    metadata_silent = (
        tc.where(F.col(dl.CDC_VERSION_COL).isin(2, 3)).count() == 0
    )
    return (
        tc.groupBy(
            F.col(dl.CDC_VERSION_COL).alias("commit_version"),
            F.col(dl.CDC_TYPE_COL).alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("balance").cast("long").alias("balance_sum"),
        )
        .select(
            "commit_version",
            "change_type",
            "n",
            "balance_sum",
            F.lit(bool(renamed_served)).alias("renamed_served"),
            F.lit(bool(metadata_silent)).alias("metadata_silent"),
        )
        .orderBy("commit_version", "change_type")
    )


Q448_SQL = """
WITH base AS (
  SELECT c_custkey AS k,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS balance
  FROM customer
),
ch0 AS (
  SELECT CAST(0 AS BIGINT) AS commit_version, 'insert' AS change_type,
         k, balance
  FROM base
),
b1 AS (
  SELECT k, balance + 111 AS balance FROM base WHERE k % 5 = 0
  UNION ALL
  SELECT k + 10000000 AS k, CAST(5000 AS BIGINT) AS balance
  FROM base WHERE k % 89 = 0
),
live1 AS (
  SELECT * FROM base WHERE k % 5 <> 0
  UNION ALL SELECT * FROM b1
),
ch1 AS (
  SELECT CAST(1 AS BIGINT), 'update_preimage', k, balance
  FROM base WHERE k % 5 = 0
  UNION ALL
  SELECT CAST(1 AS BIGINT), 'update_postimage', k, balance + 111
  FROM base WHERE k % 5 = 0
  UNION ALL
  SELECT CAST(1 AS BIGINT), 'insert', k + 10000000,
         CAST(5000 AS BIGINT)
  FROM base WHERE k % 89 = 0
),
ch4 AS (
  SELECT CAST(4 AS BIGINT), 'delete', k, balance
  FROM live1 WHERE k % 7 = 0
),
feed AS (
  SELECT * FROM ch0 UNION ALL SELECT * FROM ch1
  UNION ALL SELECT * FROM ch4
)
SELECT commit_version, change_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(balance) AS BIGINT) AS balance_sum,
       TRUE AS renamed_served,
       TRUE AS metadata_silent
FROM feed
GROUP BY commit_version, change_type
ORDER BY commit_version, change_type
"""


# ------------------------------------------------------------- q449

Q449_WH = os.path.join(_FIX, "q449_warehouse")


def q449_in_commit_timestamps(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**In-commit timestamps as a declared table feature** (Delta
    PROTOCOL.md "In-Commit Timestamps" — round-9 verdict #4): the
    commit's timestamp is part of the COMMIT CONTENT
    (``commitInfo.inCommitTimestamp``), not a filesystem mtime, so
    ``TIMESTAMP AS OF`` survives log copies/restores and skewed
    writer clocks.

    Lifecycle: two normal commits (deterministic ``version·1000``
    stamps) → ``enable_in_commit_timestamps`` (v2: protocol grows the
    ``inCommitTimestamp`` writer feature; the enablement
    version/timestamp table properties are recorded) → a commit with
    an EXPLICIT wall-clock-style timestamp 5 000 000 (v3) → a commit
    whose proposed timestamp 4 000 is IN THE PAST (v4): the
    monotonicity clamp stores ``prev + 1`` = 5 000 001 instead —
    the rule that keeps timestamp resolution well-defined.

    The engine then resolves ``version_at_timestamp`` at three
    probes (exact hit → v3, clamped successor → v4, mid-history →
    v1); DuckDB independently replays commitInfo from the raw JSON,
    re-checks strict monotonicity with a window lag, re-derives the
    same three resolutions with ``max(version) WHERE ict <= probe``,
    and reads the feature declaration from the protocol action."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q449_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q449_WH, retain_versions=8)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("t", base)                                   # v0
    store.append(
        "t",
        base.where("k % 17 = 0")
        .withColumn("k", F.col("k") + 10_000_000)
        .repartition(1),
    )                                                            # v1
    tdir = store.path("t")
    dl.enable_in_commit_timestamps(tdir)                         # v2
    log = dl.DeltaLog(tdir)
    log.commit([], operation="MANIFEST", timestamp_ms=5_000_000)  # v3
    log.commit([], operation="MANIFEST", timestamp_ms=4_000)      # v4

    snap = log.snapshot()
    conf = snap.metadata.get("configuration") or {}
    feature_declared = (
        "inCommitTimestamp" in (snap.protocol.get("writerFeatures") or [])
        and conf.get("delta.enableInCommitTimestamps") == "true"
        and conf.get("delta.inCommitTimestamps.enablementVersion") == "2"
    )
    hist = {h["version"]: h for h in log.history()}
    icts = [hist[v]["inCommitTimestamp"] for v in sorted(hist)]
    monotonic_ok = all(b > a for a, b in zip(icts, icts[1:]))
    resolve_ok = (
        log.version_at_timestamp(5_000_000) == 3
        and log.version_at_timestamp(5_000_001) == 4
        and log.version_at_timestamp(1_999) == 1
    )
    rows = [
        (v, int(hist[v]["inCommitTimestamp"]), hist[v]["operation"])
        for v in sorted(hist)
    ]
    return (
        local_rows_df(spark, 
            rows, "version long, ict long, operation string"
        )
        .select(
            "version",
            "ict",
            "operation",
            F.lit(bool(feature_declared)).alias("feature_declared"),
            F.lit(bool(monotonic_ok)).alias("monotonic_ok"),
            F.lit(bool(resolve_ok)).alias("resolve_ok"),
        )
        .orderBy("version")
    )


Q449_SQL = f"""
WITH raw AS (
  SELECT CAST(regexp_extract(parse_filename(filename), '^(\\d+)', 1)
              AS BIGINT) AS version, *
  FROM read_json_auto('{Q449_WH}/t/_delta_log/*.json',
                      filename=true, union_by_name=true,
                      format='newline_delimited')
),
ci AS (
  SELECT version,
         CAST(commitInfo.inCommitTimestamp AS BIGINT) AS ict,
         commitInfo.operation AS operation
  FROM raw WHERE commitInfo IS NOT NULL
),
mono AS (
  SELECT coalesce(bool_and(ok), FALSE) AS m FROM (
    SELECT ict > coalesce(lag(ict) OVER (ORDER BY version), -1) AS ok
    FROM ci
  )
),
feat AS (
  SELECT coalesce(
           bool_or(list_contains(protocol.writerFeatures,
                                 'inCommitTimestamp')), FALSE) AS f
  FROM raw WHERE protocol IS NOT NULL
),
res AS (
  SELECT (SELECT max(version) FROM ci WHERE ict <= 5000000) = 3
     AND (SELECT max(version) FROM ci WHERE ict <= 5000001) = 4
     AND (SELECT max(version) FROM ci WHERE ict <= 1999) = 1 AS r
)
SELECT version, ict, operation,
       (SELECT f FROM feat) AS feature_declared,
       (SELECT m FROM mono) AS monotonic_ok,
       (SELECT r FROM res) AS resolve_ok
FROM ci
ORDER BY version
"""


# ------------------------------------------------------------- q450

Q450_WH = os.path.join(_FIX, "q450_warehouse")


def q450_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Type widening** (Delta PROTOCOL.md "Type Widening" /
    ``delta.enableTypeWidening`` — round-9 verdict #5): widen a
    column's logical type int→long in ONE metadata commit; old
    int32 files are never rewritten and read back THROUGH the
    widened schema.

    Lifecycle: overwrite with ``cents`` as INT (v0, 2 narrow files)
    → ``widen_column_type('cents', 'long')`` (v1: schemaString type
    flips, the field's ``delta.typeChanges`` metadata records
    {fromType: integer, toType: long, tableVersion: 1}, protocol
    grows the typeWidening reader+writer feature) → append rows
    whose cents EXCEED int32 range (v2, a 64-bit file).

    ``read_delta`` then serves ONE long-typed column over the mixed
    narrow/wide physical files (mergeSchema + declared-type upcast);
    the cert aggregates per segment — sums only a 64-bit read can
    get right — and proves ``zero_rewrite`` (v0's add paths are
    still live at head). DuckDB recomputes the segment aggregates
    semantically from the customer table and reads the widened type
    + typeChanges straight from the last metaData action's
    schemaString JSON.

    Scale: the alternative — rewriting every file because an id or
    counter column outgrew int32 — is a full-table rewrite at
    100 TB; this is one JSON commit."""
    import json as _json

    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q450_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q450_WH, retain_versions=8)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").cast("int").alias("cents"),
    )
    store.overwrite("t", base, n_files=2)                        # v0
    tdir = store.path("t")
    v0_files = set(dl.DeltaLog(tdir).snapshot().files)
    dl.widen_column_type(tdir, "cents", "long")                  # v1
    big = (
        cust.where("c_custkey % 10 = 0")
        .select(
            (F.col("c_custkey") + 20_000_000).alias("k"),
            F.lit("XL").alias("seg"),
            (F.lit(3_000_000_000) + F.col("c_custkey")).cast("long")
            .alias("cents"),
        )
        .repartition(1)
    )
    store.append("t", big)                                       # v2

    snap = dl.DeltaLog(tdir).snapshot()
    schema = _json.loads(snap.metadata["schemaString"])
    cents_field = next(f for f in schema["fields"] if f["name"] == "cents")
    widened_type = cents_field["type"]
    changes = (cents_field.get("metadata") or {}).get(
        "delta.typeChanges"
    ) or []
    type_change_recorded = any(
        c.get("fromType") == "integer"
        and c.get("toType") == "long"
        and c.get("tableVersion") == 1
        for c in changes
    )
    feature_declared = "typeWidening" in (
        snap.protocol.get("readerFeatures") or []
    )
    zero_rewrite = v0_files <= set(snap.files)

    df = dl.read_delta(spark, tdir)
    read_upcast_ok = dict(df.dtypes)["cents"] == "bigint"
    return (
        df.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("cents_sum"),
        )
        .select(
            "seg",
            "n",
            "cents_sum",
            F.lit(widened_type).alias("widened_type"),
            F.lit(bool(type_change_recorded)).alias(
                "type_change_recorded"
            ),
            F.lit(bool(feature_declared)).alias("feature_declared"),
            F.lit(bool(zero_rewrite)).alias("zero_rewrite"),
            F.lit(bool(read_upcast_ok)).alias("read_upcast_ok"),
        )
        .orderBy("seg")
    )


Q450_SQL = f"""
WITH base AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
              AS INTEGER) AS cents
  FROM customer
),
big AS (
  SELECT c_custkey + 20000000 AS k, 'XL' AS seg,
         CAST(3000000000 + c_custkey AS BIGINT) AS cents
  FROM customer WHERE c_custkey % 10 = 0
),
t AS (
  SELECT k, seg, CAST(cents AS BIGINT) AS cents FROM base
  UNION ALL SELECT * FROM big
),
last_meta AS (
  SELECT metaData.schemaString AS ss
  FROM read_json_auto('{Q450_WH}/t/_delta_log/*.json',
                      filename=true, union_by_name=true,
                      format='newline_delimited')
  WHERE metaData IS NOT NULL
  ORDER BY CAST(regexp_extract(parse_filename(filename), '^(\\d+)', 1)
                AS BIGINT) DESC
  LIMIT 1
),
widened AS (
  SELECT json_extract_string(ss, '$.fields[2].type') AS t,
         json_extract_string(
           ss, '$.fields[2].metadata."delta.typeChanges"[0].fromType')
           = 'integer'
         AND json_extract_string(
           ss, '$.fields[2].metadata."delta.typeChanges"[0].toType')
           = 'long' AS changed
  FROM last_meta
)
SELECT seg, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       (SELECT t FROM widened) AS widened_type,
       (SELECT changed FROM widened) AS type_change_recorded,
       TRUE AS feature_declared,
       TRUE AS zero_rewrite,
       TRUE AS read_upcast_ok
FROM t
GROUP BY seg
ORDER BY seg
"""


# ------------------------------------------------------------- q451

Q451_WH = os.path.join(_FIX, "q451_warehouse")


def q451_liquid_clustering(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Liquid clustering metadata** (Delta PROTOCOL.md "Clustered
    Table" — round-9 verdict item 7): clustering keys live in the
    LOG (``delta.clustering`` domainMetadata + ``clustering`` writer
    feature), not an engine-local side file, so every engine's
    OPTIMIZE reclusters the same way.

    Lifecycle: overwrite 6 unclustered files (v0) →
    ``set_clustering(['cents'])`` (v1, metadata-only — ZERO data
    moved, exactly ``ALTER TABLE ... CLUSTER BY``) →
    ``store.optimize()`` (v2): the engine reads its keys FROM THE
    LOG (no ``_LAYOUT`` declared here at all) and rewrites
    range-partitioned + sorted on them.

    Proof, from the log artifacts BOTH engines parse independently:
    the domain action round-trips the column list; the protocol
    declares the feature; and the head live files' ``add.stats``
    min/max on ``cents`` form non-overlapping zones
    (``zonemap_disjoint`` — window lag over the per-file ranges,
    allowing only boundary ties), which is the data-skipping payoff
    clustering exists for.

    Scale: this is the q426 skew-aware Z-ORDER path with its
    declaration moved into the transaction log — the maintenance
    job any engine on the cluster can now run identically."""
    import json as _json

    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q451_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q451_WH, retain_versions=8)
    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("t", base, n_files=6)                        # v0
    tdir = store.path("t")
    dl.set_clustering(tdir, ["cents"])                           # v1
    res = store.optimize("t", target_bytes=48_000)               # v2

    snap = dl.DeltaLog(tdir).snapshot()
    cl_cols = snap.clustering_columns()
    feature_declared = "clustering" in (
        snap.protocol.get("writerFeatures") or []
    )
    spans = sorted(
        (
            int(_json.loads(a["stats"])["minValues"]["cents"]),
            int(_json.loads(a["stats"])["maxValues"]["cents"]),
            int(_json.loads(a["stats"])["numRecords"]),
        )
        for a in snap.files.values()
    )
    zonemap_disjoint = all(
        lo2 >= hi1 for (_l1, hi1, _n1), (lo2, _h2, _n2) in
        zip(spans, spans[1:])
    )
    return local_rows_df(spark, 
        [
            (
                len(snap.files),
                sum(n for _l, _h, n in spans),
                ",".join(cl_cols),
                bool(feature_declared),
                bool(res.get("reclustered")),
                bool(zonemap_disjoint),
            )
        ],
        "n_files long, n_records long, clustering_cols string, "
        "feature_declared boolean, reclustered boolean, "
        "zonemap_disjoint boolean",
    )


Q451_SQL = f"""
WITH raw AS (
  SELECT CAST(regexp_extract(parse_filename(filename), '^(\\d+)', 1)
              AS BIGINT) AS version, *
  FROM read_json_auto('{Q451_WH}/t/_delta_log/*.json',
                      filename=true, union_by_name=true,
                      format='newline_delimited')
),
adds AS (
  SELECT version, add.path AS path,
         CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
           AS nrec,
         CAST(json_extract_string(add.stats, '$.minValues.cents')
              AS BIGINT) AS lo,
         CAST(json_extract_string(add.stats, '$.maxValues.cents')
              AS BIGINT) AS hi
  FROM raw WHERE add IS NOT NULL
),
removes AS (
  SELECT version, remove.path AS path FROM raw
  WHERE remove IS NOT NULL
),
live AS (
  SELECT a.* FROM adds a
  WHERE NOT EXISTS (
    SELECT 1 FROM removes r
    WHERE r.path = a.path AND r.version >= a.version
  )
),
cl AS (
  SELECT json_extract_string(
           json_extract_string(CAST(domainMetadata AS JSON),
                               '$.configuration'),
           '$.clusteringColumns[0][0]') AS c
  FROM raw
  WHERE domainMetadata IS NOT NULL
    AND json_extract_string(CAST(domainMetadata AS JSON), '$.domain')
        = 'delta.clustering'
),
feat AS (
  SELECT coalesce(bool_or(list_contains(
           CAST(protocol.writerFeatures AS VARCHAR[]),
           'clustering')), FALSE) AS f
  FROM raw WHERE protocol IS NOT NULL
),
zones AS (
  SELECT coalesce(bool_and(ok), TRUE) AS z FROM (
    SELECT lo >= coalesce(lag(hi) OVER (ORDER BY lo, hi), lo) AS ok
    FROM live
  )
)
SELECT CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(nrec) AS BIGINT) AS n_records,
       (SELECT c FROM cl) AS clustering_cols,
       (SELECT f FROM feat) AS feature_declared,
       TRUE AS reclustered,
       (SELECT z FROM zones) AS zonemap_disjoint
FROM live
"""


# ------------------------------------------------------------- q452


def q452_arrow_native_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Arrow-native scalar UDF door** (Spark 4.1 ``arrow_udf``) +
    the ``any_value`` aggregate — the two remaining unexplored
    non-deliberate entries in the function-surface audit.

    ``arrow_udf`` receives ``pyarrow.Array`` batches directly (no
    pandas conversion hop — one less copy than ``pandas_udf`` on the
    same Arrow transfer), here computing the financial clamp
    ``min(max(cents, 0), 500000)`` with ``pyarrow.compute`` kernels.
    The cert proves the door's SEMANTICS, not just that it runs: the
    arrow path is compared row-for-row against the JVM builtin
    ``least/greatest`` expression (``arrow_matches_builtin`` — any
    mismatch fails the cert), then aggregated per segment.
    ``any_value(upper(seg))`` is deterministic because the argument
    is constant within each group.

    Scale/plan: the UDF appears as one ArrowEvalPython node — an
    Arrow-batched boundary, NEVER row-at-a-time BatchEvalPython (the
    plan guard bans that everywhere); the hot path for this clamp in
    production remains the builtin expression (q05), which is the
    point of certifying equivalence. Reference: the financial caps
    family (orders_cleaned.sql:127-149)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import any_value, arrow_udf

    # NOTE: no type hints on the kernel — this module compiles under
    # ``from __future__ import annotations``, which turns hints into
    # strings that arrow_udf's signature inspection rejects
    # (UNSUPPORTED_SIGNATURE); hint-less + explicit returnType takes
    # the SCALAR default path.
    @arrow_udf("long")
    def clamp_cents(arr):
        lo = pa.scalar(0, type=pa.int64())
        hi = pa.scalar(500_000, type=pa.int64())
        return pc.min_element_wise(
            pc.max_element_wise(pc.cast(arr, pa.int64()), lo), hi
        )

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    tagged = base.withColumn("cl", clamp_cents(F.col("cents")))
    builtin = F.least(
        F.lit(500_000).cast("long"),
        F.greatest(F.lit(0).cast("long"), F.col("cents")),
    )
    mismatches = tagged.where(F.col("cl") != builtin).count()
    return (
        tagged.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cl").cast("long").alias("clamped_sum"),
            any_value(F.upper(F.col("seg"))).alias("seg_uc"),
        )
        .select(
            "seg",
            "n",
            "clamped_sum",
            "seg_uc",
            F.lit(mismatches == 0).alias("arrow_matches_builtin"),
        )
        .orderBy("seg")
    )


Q452_SQL = """
SELECT c_mktsegment AS seg,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(least(500000, greatest(0,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))))
         AS BIGINT) AS clamped_sum,
       upper(c_mktsegment) AS seg_uc,
       TRUE AS arrow_matches_builtin
FROM customer
GROUP BY c_mktsegment
ORDER BY seg
"""


# ------------------------------------------------------------- q453


def q453_arrow_udtf_bucketize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Arrow-native UDTF door** (Spark 4.1 ``arrow_udtf``): the
    table function's ``eval`` receives whole ``pyarrow.RecordBatch``
    es and yields ``pyarrow.Table`` s — true vectorized UDTF
    execution, vs the row-iterator UDTFs of the q97/q174 family.

    The UDTF buckets every customer's balance
    (``floor(cents / 100000.0)`` — float floor so negative balances
    land in bucket −1 exactly like SQL) entirely with
    ``pyarrow.compute`` kernels, one output row per input row; the
    aggregation to (bucket, n, k_sum) happens OUTSIDE the UDTF in
    JVM expressions, so the Python boundary stays a thin vectorized
    map (the same discipline as the declared Arrow kernels). DuckDB
    recomputes the bucketing in SQL — semantic equivalence, not just
    door-opens."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udtf

    @arrow_udtf(returnType="k bigint, bucket bigint")
    class Bucketize:
        def eval(self, batch: pa.RecordBatch):
            c = pc.cast(batch.column("cents"), pa.float64())
            b = pc.floor(pc.divide(c, 100_000.0))
            yield pa.table(
                {
                    "k": pc.cast(batch.column("k"), pa.int64()),
                    "bucket": pc.cast(b, pa.int64()),
                }
            )

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("k"),
        _money_cents("c_acctbal").alias("cents"),
    )
    out = Bucketize(base.asTable())
    return (
        out.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("k_sum"),
        )
        .orderBy("bucket")
    )


Q453_SQL = """
SELECT CAST(floor(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
                       AS BIGINT) / 100000.0) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(c_custkey) AS BIGINT) AS k_sum
FROM customer
GROUP BY bucket
ORDER BY bucket
"""


QUERIES_EXT93 = {
    "q446_checkpoint_v2_sidecars": q446_checkpoint_v2_sidecars,
    "q447_row_tracking": q447_row_tracking,
    "q448_cdf_column_mapping": q448_cdf_column_mapping,
    "q449_in_commit_timestamps": q449_in_commit_timestamps,
    "q450_type_widening": q450_type_widening,
    "q451_liquid_clustering": q451_liquid_clustering,
    "q452_arrow_native_udf": q452_arrow_native_udf,
    "q453_arrow_udtf_bucketize": q453_arrow_udtf_bucketize,
}


def _oracles_ext93() -> dict[str, str]:
    return {
        "q446_checkpoint_v2_sidecars": Q446_SQL,
        "q447_row_tracking": Q447_SQL,
        "q448_cdf_column_mapping": Q448_SQL,
        "q449_in_commit_timestamps": Q449_SQL,
        "q450_type_widening": Q450_SQL,
        "q451_liquid_clustering": Q451_SQL,
        "q452_arrow_native_udf": Q452_SQL,
        "q453_arrow_udtf_bucketize": Q453_SQL,
    }

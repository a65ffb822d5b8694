"""Round-9 driver family, batch 89 (q421-q423): the pure-Python Delta
Lake transaction log (sources/delta_log.py) certified cross-engine —
the round-8 verdict's #1 and #2 items.

The reference materializes every model as a Delta table
(``dbt_project.yml:39`` ``+file_format: delta``; ``orders_cleaned.sql``
post-hook ``OPTIMIZE``). These certs prove the engine both PRODUCES a
protocol-conformant ``_delta_log`` through a full write lifecycle and
PLANS SCANS from it:

* q421 — lifecycle round-trip (overwrite → MERGE → COW DELETE →
  OPTIMIZE). The oracle is an INDEPENDENT log parser: DuckDB
  ``read_json_auto`` over the raw commit JSON, reconciling the live
  file set per version with window functions — if the emitted actions
  deviated from the protocol's add/remove semantics in any way, the
  two parsers would disagree.
* q422 — data skipping from log stats alone: Z-ORDER vs composite-sort
  layouts, file-pruning decisions computed from ``add.stats`` min/max
  (zero parquet footer opens — certified by monkeypatch in
  tests/test_delta_log.py), identical row results to the full scan.
* q423 — checkpoint conformance: DuckDB reconstructs the live set from
  the PARQUET CHECKPOINT + the JSON tail and must agree with the
  engine's snapshot at both the checkpoint version and the head.

All three leave their logs on disk for the oracle to parse (each run
rebuilds deterministically first). Same contract as the other
driver_queries modules.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from product_analytics_spark.qcommon import (
    _money_cents,
    _t,
    combine_single_rows,
    local_rows_df,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------------------- q421

Q421_WH = os.path.join(_REPO, ".fixtures", ".q421_warehouse")


def q421_delta_log_protocol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta transaction-log lifecycle round-trip (delta_log.py;
    reference dbt_project.yml:39 ``+file_format: delta``).

    A delta-enabled SnapshotStore runs the full write lifecycle —
    overwrite (protocol+metaData+adds), MERGE (remove+add), COW DELETE
    (hardlinked files keep their add stats, touched files re-add),
    OPTIMIZE (recluster rewrite) — then BOTH engines parse the
    resulting ``_delta_log`` JSON independently: Spark through the
    engine's DeltaLog reader (checkpoint-aware replay), DuckDB through
    ``read_json_auto`` + window-function reconciliation of latest
    action per path. Compared per version: action counts, rows added
    (from per-file ``stats``), the reconciled live file/row set, and
    ``live_matches_data`` — the engine's cross-check that the
    log-derived row count equals an actual parquet read of the live
    files (metadata-only COUNT(*), Delta's fast path).

    Scale: the log is O(files) JSON — commit cost is one putIfAbsent
    append; reconstruction replays checkpoint + bounded tail. At
    100 TB this (not footer scans) is how Delta/Iceberg plan a
    million-file table."""
    from product_analytics_spark.sources.delta_log import DeltaLog
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q421_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q421_WH, retain_versions=8)
    base = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        _money_cents("c_acctbal").alias("cents"),
    )
    store.overwrite("acct", base, cluster_by=("k",), n_files=4)
    batch = base.filter(F.col("k") % 10 == 0).withColumn(
        "cents", F.col("cents") + 500
    )
    store.merge("acct", batch, "k", cluster_by=("k",))
    store.delete_where("acct", "k % 3 = 0")
    store.optimize("acct")

    log = DeltaLog(store.path("acct"))
    rows = []
    for v in range(log.latest_version() + 1):
        commit = os.path.join(log.log_dir, f"{v:020d}.json")
        n_add = n_remove = rows_added = 0
        has_protocol = has_metadata = False
        with open(commit, encoding="utf-8") as fh:
            for line in fh:
                a = json.loads(line)
                if a.get("add"):
                    n_add += 1
                    rows_added += json.loads(a["add"]["stats"])["numRecords"]
                elif a.get("remove"):
                    n_remove += 1
                elif a.get("protocol"):
                    has_protocol = True
                elif a.get("metaData"):
                    has_metadata = True
        snap = log.snapshot(v)
        live_rows = snap.num_records()
        # Cross-check the log against the DATA: live files re-read.
        actual = (
            spark.read.parquet(
                *[os.path.join(store.path("acct"), p) for p in snap.files]
            ).count()
            if snap.files
            else 0
        )
        rows.append(
            (
                v,
                n_add,
                n_remove,
                rows_added,
                len(snap.files),
                live_rows,
                bool(actual == live_rows),
                has_protocol,
                has_metadata,
            )
        )
    schema = T.StructType(
        [
            T.StructField("version", T.LongType()),
            T.StructField("n_add", T.LongType()),
            T.StructField("n_remove", T.LongType()),
            T.StructField("rows_added", T.LongType()),
            T.StructField("live_files", T.LongType()),
            T.StructField("live_rows", T.LongType()),
            T.StructField("live_matches_data", T.BooleanType()),
            T.StructField("has_protocol", T.BooleanType()),
            T.StructField("has_metadata", T.BooleanType()),
        ]
    )
    return local_rows_df(spark, rows, schema).orderBy("version")


Q421_SQL = f"""
WITH raw AS (
  SELECT CAST(regexp_extract(parse_filename(filename), '^(\\d+)', 1)
              AS BIGINT) AS version, *
  FROM read_json_auto('{Q421_WH}/acct/_delta_log/*.json',
                      filename=true, union_by_name=true,
                      format='newline_delimited')
),
actions AS (
  SELECT version,
         CASE WHEN add IS NOT NULL THEN add.path
              WHEN remove IS NOT NULL THEN remove.path END AS path,
         (add IS NOT NULL) AS is_add,
         CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
           AS nrec,
         (protocol IS NOT NULL) AS is_proto,
         (metaData IS NOT NULL) AS is_meta
  FROM raw
),
per_commit AS (
  SELECT version,
         CAST(count(*) FILTER (WHERE is_add) AS BIGINT) AS n_add,
         CAST(count(*) FILTER (WHERE path IS NOT NULL AND NOT is_add)
              AS BIGINT) AS n_remove,
         CAST(coalesce(sum(nrec) FILTER (WHERE is_add), 0) AS BIGINT)
           AS rows_added,
         bool_or(is_proto) AS has_protocol,
         bool_or(is_meta) AS has_metadata
  FROM actions GROUP BY version
),
file_actions AS (
  SELECT version, path, is_add, nrec FROM actions WHERE path IS NOT NULL
),
replay AS (  -- latest action per path at each version = live set
  SELECT pc.version AS v, fa.path, fa.is_add, fa.nrec,
         row_number() OVER (PARTITION BY pc.version, fa.path
                            ORDER BY fa.version DESC) AS rn
  FROM per_commit pc JOIN file_actions fa ON fa.version <= pc.version
),
live AS (
  SELECT v AS version,
         CAST(count(*) FILTER (WHERE rn = 1 AND is_add) AS BIGINT)
           AS live_files,
         CAST(coalesce(sum(nrec) FILTER (WHERE rn = 1 AND is_add), 0)
              AS BIGINT) AS live_rows
  FROM replay GROUP BY v
)
SELECT pc.version, n_add, n_remove, rows_added, live_files, live_rows,
       TRUE AS live_matches_data, has_protocol, has_metadata
FROM per_commit pc JOIN live USING (version)
ORDER BY pc.version
"""


# ------------------------------------------------------------- q422

Q422_WH = os.path.join(_REPO, ".fixtures", ".q422_warehouse")
Q422_FILES = 16
Q422_Y_LO, Q422_Y_HI = 4, 7  # second-key range predicate


def q422_delta_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping planned from the transaction log's per-file
    stats — Delta's scan planning, the round-8 verdict's item #2
    (q416 proved Z-order skipping by OPENING footers; at 100 TB that
    is a metadata storm, so the manifest must carry the stats).

    Two layouts of the same customer-derived (x, y) grid are written
    delta-enabled: composite sort (cluster_by x,y — files span nearly
    the full y range) and multi-column Z-ORDER (Morton-interleaved —
    files are locality rectangles). For a SECOND-KEY predicate
    ``y BETWEEN 4 AND 7`` the scan plan comes from ``add.stats``
    min/max ALONE (scan_files; the zero-footer-open property is
    pytest-certified by monkeypatching pyarrow to explode), and the
    pruned read must return exactly the full scan's rows.

    Compared: per layout, total/kept file counts — recomputed by
    DuckDB from the raw log JSON with the same interval-overlap rule —
    plus matching row count and sum (recomputed from the source
    table), plus ``pruned_equals_full``. The Z-ORDER layout must keep
    strictly fewer files than the composite (``zorder_wins`` on both
    rows)."""
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q422_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q422_WH, retain_versions=1)
    grid = _t(spark, sf_dir, "customer").select(
        (F.col("c_custkey") % 32).alias("x"),
        ((F.col("c_custkey") / 32).cast("long") % 32).alias("y"),
        F.col("c_custkey").alias("payload"),
    )
    store.overwrite("comp", grid, cluster_by=("x", "y"), n_files=Q422_FILES)
    store.overwrite("zo", grid, zorder_by=("x", "y"), n_files=Q422_FILES)

    pred = [("y", "between", (Q422_Y_LO, Q422_Y_HI))]
    where = f"y BETWEEN {Q422_Y_LO} AND {Q422_Y_HI}"
    # ONE fused probe action for all four (pruned, full) aggregates
    # (round-12 batch 8, guide §1.2 — the loop ran 2 collects per
    # layout).
    probes = []
    specs = []
    kept_counts = {}
    for layout in ("comp", "zo"):
        kept, total = store.scan_files(layout, pred)
        kept_counts[layout] = len(kept)
        probes.append(
            store.read_pruned(layout, pred)
            .where(where)
            .agg(
                F.count(F.lit(1)).alias(f"__{layout}_p_n"),
                F.sum("payload").alias(f"__{layout}_p_sum"),
            )
        )
        probes.append(
            store.read(layout)
            .where(where)
            .agg(
                F.count(F.lit(1)).alias(f"__{layout}_f_n"),
                F.sum("payload").alias(f"__{layout}_f_sum"),
            )
        )
        specs.append((layout, total, len(kept)))
    pr422 = combine_single_rows(*probes).collect()[0]
    out = []
    for layout, total, n_kept in specs:
        p_n, p_sum = pr422[f"__{layout}_p_n"], pr422[f"__{layout}_p_sum"]
        f_n, f_sum = pr422[f"__{layout}_f_n"], pr422[f"__{layout}_f_sum"]
        out.append(
            {
                "layout": layout,
                "n_files": total,
                "n_kept": n_kept,
                "n_rows": int(p_n),
                "payload_sum": int(p_sum) if p_sum is not None else 0,
                "pruned_equals_full": bool(p_n == f_n and p_sum == f_sum),
            }
        )
    zorder_wins = kept_counts["zo"] < kept_counts["comp"]
    schema = T.StructType(
        [
            T.StructField("layout", T.StringType()),
            T.StructField("n_files", T.LongType()),
            T.StructField("n_kept", T.LongType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("payload_sum", T.LongType()),
            T.StructField("pruned_equals_full", T.BooleanType()),
        ]
    )
    return (
        local_rows_df(spark, 
            [
                (
                    r["layout"],
                    r["n_files"],
                    r["n_kept"],
                    r["n_rows"],
                    r["payload_sum"],
                    r["pruned_equals_full"],
                )
                for r in out
            ],
            schema,
        )
        .withColumn("zorder_wins", F.lit(bool(zorder_wins)))
        .orderBy("layout")
    )


Q422_SQL = f"""
WITH kept AS (
  SELECT CASE WHEN filename LIKE '%/comp/%' THEN 'comp' ELSE 'zo' END
           AS layout,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(count(*) FILTER (WHERE
             CAST(json_extract_string(add.stats, '$.minValues.y')
                  AS BIGINT) <= {Q422_Y_HI}
         AND CAST(json_extract_string(add.stats, '$.maxValues.y')
                  AS BIGINT) >= {Q422_Y_LO}) AS BIGINT) AS n_kept
  FROM read_json_auto(
         ['{Q422_WH}/comp/_delta_log/*.json',
          '{Q422_WH}/zo/_delta_log/*.json'],
         filename=true, union_by_name=true, format='newline_delimited')
  WHERE add IS NOT NULL
  GROUP BY 1
),
rows_match AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(c_custkey) AS BIGINT) AS payload_sum
  FROM customer
  WHERE (c_custkey // 32) % 32 BETWEEN {Q422_Y_LO} AND {Q422_Y_HI}
),
wins AS (
  SELECT max(CASE WHEN layout = 'zo' THEN n_kept END)
       < max(CASE WHEN layout = 'comp' THEN n_kept END) AS zorder_wins
  FROM kept
)
SELECT layout, n_files, n_kept, n_rows, payload_sum,
       TRUE AS pruned_equals_full, zorder_wins
FROM kept, rows_match, wins
ORDER BY layout
"""


# ------------------------------------------------------------- q423

Q423_WH = os.path.join(_REPO, ".fixtures", ".q423_warehouse")
Q423_CP_VERSION = 9  # DeltaLog.CHECKPOINT_INTERVAL=10 → checkpoint at v9


def q423_delta_checkpoint_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Checkpoint conformance: after 12 commits (overwrite + 9 appends
    + COW DELETE + OPTIMIZE) the auto-written parquet checkpoint at v9
    plus the JSON tail must reconstruct the same live set as a full
    JSON replay. DuckDB is the independent reconstructor: it reads the
    CHECKPOINT PARQUET's add structs, overlays tail actions (v10-v11)
    by latest-action-per-path, and reports live files/rows at both the
    checkpoint version and the head; the engine answers from
    ``DeltaLog.snapshot`` (which replays checkpoint + tail itself).
    ``data_ok`` cross-checks the head's log-derived row count against
    an actual read of the live files.

    Scale: checkpoints bound log replay to O(tail) — the reason Delta
    readers stay fast after 10^5 commits."""
    from product_analytics_spark.sources.delta_log import DeltaLog
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q423_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q423_WH, retain_versions=3)
    base = (
        _t(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("k"),
            _money_cents("c_acctbal").alias("cents"),
        )
        .filter(F.col("k") % 10 == 0)
    )
    store.overwrite("t", base, cluster_by=("k",), n_files=2)  # v0
    for i in range(1, 10):  # v1..v9 (checkpoint fires at v9)
        store.append(
            "t",
            base.filter(F.col("k") % 9 == i % 9).withColumn(
                "k", F.col("k") + 1_000_000 * i
            ),
        )
    store.delete_where("t", "cents < 0")  # v10
    store.optimize("t")  # v11

    log = DeltaLog(store.path("t"))
    head = log.latest_version()
    cp_file = os.path.join(
        log.log_dir, f"{Q423_CP_VERSION:020d}.checkpoint.parquet"
    )
    rows = []
    for label, v in (("checkpoint", Q423_CP_VERSION), ("head", head)):
        snap = log.snapshot(v)
        live_rows = snap.num_records()
        if label == "head":
            actual = spark.read.parquet(
                *[os.path.join(store.path("t"), p) for p in snap.files]
            ).count()
            data_ok = bool(actual == live_rows)
        else:
            data_ok = True  # v9 dirs may be GC'd (retention) — log-only
        rows.append(
            (
                label,
                v,
                len(snap.files),
                live_rows,
                bool(os.path.isfile(cp_file)),
                data_ok,
            )
        )
    schema = T.StructType(
        [
            T.StructField("point", T.StringType()),
            T.StructField("version", T.LongType()),
            T.StructField("live_files", T.LongType()),
            T.StructField("live_rows", T.LongType()),
            T.StructField("checkpoint_exists", T.BooleanType()),
            T.StructField("data_ok", T.BooleanType()),
        ]
    )
    return local_rows_df(spark, rows, schema).orderBy("point")


Q423_SQL = f"""
WITH cp AS (  -- the parquet checkpoint IS the v9 live set
  SELECT add.path AS path, TRUE AS is_add,
         CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
           AS nrec, {Q423_CP_VERSION} AS version
  FROM read_parquet(
    '{Q423_WH}/t/_delta_log/{Q423_CP_VERSION:020d}.checkpoint.parquet')
  WHERE add IS NOT NULL
),
tail AS (
  SELECT CASE WHEN add IS NOT NULL THEN add.path ELSE remove.path END
           AS path,
         (add IS NOT NULL) AS is_add,
         CAST(json_extract_string(add.stats, '$.numRecords') AS BIGINT)
           AS nrec,
         CAST(regexp_extract(parse_filename(filename), '^(\\d+)', 1)
              AS BIGINT) AS version
  FROM read_json_auto('{Q423_WH}/t/_delta_log/*.json',
                      filename=true, union_by_name=true,
                      format='newline_delimited')
  WHERE (add IS NOT NULL OR remove IS NOT NULL)
    AND CAST(regexp_extract(parse_filename(filename), '^(\\d+)', 1)
             AS BIGINT) > {Q423_CP_VERSION}
),
all_actions AS (SELECT * FROM cp UNION ALL SELECT * FROM tail),
head_v AS (SELECT max(version) AS hv FROM all_actions),
points AS (
  SELECT 'checkpoint' AS point, {Q423_CP_VERSION} AS version
  UNION ALL
  SELECT 'head', hv FROM head_v
),
replay AS (
  SELECT p.point, p.version, a.path, a.is_add, a.nrec,
         row_number() OVER (PARTITION BY p.point, a.path
                            ORDER BY a.version DESC) AS rn
  FROM points p JOIN all_actions a ON a.version <= p.version
)
SELECT point, CAST(version AS BIGINT) AS version,
       CAST(count(*) FILTER (WHERE rn = 1 AND is_add) AS BIGINT)
         AS live_files,
       CAST(coalesce(sum(nrec) FILTER (WHERE rn = 1 AND is_add), 0)
            AS BIGINT) AS live_rows,
       TRUE AS checkpoint_exists, TRUE AS data_ok
FROM replay GROUP BY point, version ORDER BY point
"""


QUERIES_EXT89 = {
    "q421_delta_log_protocol": q421_delta_log_protocol,
    "q422_delta_stats_skipping": q422_delta_stats_skipping,
    "q423_delta_checkpoint_replay": q423_delta_checkpoint_replay,
}


def _oracles_ext89() -> dict[str, str]:
    return {
        "q421_delta_log_protocol": Q421_SQL,
        "q422_delta_stats_skipping": Q422_SQL,
        "q423_delta_checkpoint_replay": Q423_SQL,
    }

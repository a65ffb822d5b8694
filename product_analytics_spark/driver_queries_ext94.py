"""Round-11 driver family, batch 94: Delta-protocol safety +
engine-native runtime features — the four gaps the round-10 verdict
ranked, as lifecycle certs.

* q454 — SHALLOW CLONE of a table with OUTSTANDING deletion vectors:
  the clone's version-0 add actions carry the DV descriptors rewritten
  to storageType "p" with the ABSOLUTE source sidecar path, so the
  clone reads bit-equal through the DV-aware reader with zero
  materialization — and the clone's own VACUUM provably cannot touch
  the source's sidecars (they live outside its table root).
* q455 — ``vacuumProtocolCheck`` + ``checkpointProtection`` table
  features: the two protocol-safety gates — a feature-unaware VACUUM
  path is refused before it can delete live DV sidecars, and
  checkpoint files at or below the protected version survive
  ``cleanup_log``.
* q456 — coordinated commits: the hardlink putIfAbsent seam behind a
  CommitOwner interface; two writers racing the SAME version through
  an owner — exactly one wins, the loser re-reads and lands on top.
* q457 — engine-native AQE skew-join door: Spark's runtime skew split
  on a deliberately skewed join, value-identical to the manually
  salted q109 shape.

Reference mapping: all are production behaviors of the reference's
``+file_format: delta`` materialization (dbt_project.yml:39) and its
Databricks-Spark execution engine (profiles.yml:10). At 100 TB:
cloning a DV'd prod table for staging must not force a rewrite of
every touched file (q454); a non-DV-aware client's VACUUM deleting
live sidecars corrupts the lake (q455); object stores have no
putIfAbsent, so commit ownership is the multi-cluster story (q456);
skewed hot keys are the first join pathology at scale (q457).

Same contract as the other driver_queries modules: each query takes
(spark, sf_dir) and returns a DataFrame; ``_oracles_ext94`` maps the
key to an equivalent DuckDB SQL string over the same parquet inputs.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from product_analytics_spark.qcommon import (
    _money_cents,
    _t,
    combine_single_rows,
    local_rows_df,
    multiset_equal,
    multiset_mismatch_flag,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_FIX = os.path.join(_REPO, ".fixtures")

# ------------------------------------------------------------- q454

Q454_WH = os.path.join(_FIX, "q454_warehouse")
Q454_CLONE = os.path.join(_FIX, "q454_clone")


def q454_shallow_clone_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**SHALLOW CLONE of a DV'd table** (Delta PROTOCOL.md "Deletion
    Vectors" × "Clone") — round-10 verdict item 3: previously the
    clone REFUSED sources with outstanding deletion vectors; now the
    descriptors clone too, rewritten to absolute-path form.

    Lifecycle: overwrite 6 files → MoR DELETE (``delete_where_mor``,
    tombstones into a DV sidecar, zero rewrites) → ``shallow_clone``.

    Pinned properties:

    * ``clone_matches_source`` — clone reads bit-equal to the source
      through the DV-aware reader (two-sided exceptAll), WITHOUT
      purging: the deleted rows stay hidden on both sides;
    * ``dv_carried_absolute`` — every cloned descriptor is
      storageType "p" with an absolute path that resolves to the
      SOURCE's sidecar (offset/size/cardinality unchanged — same
      bitmap bytes);
    * ``clone_vacuum_spares_source`` — VACUUM on the clone deletes
      nothing of the source: every source sidecar still exists and
      the source still reads identically afterwards;
    * ``deleted_stay_hidden`` — no tombstoned key reappears in the
      clone (the failure mode cloning descriptors wrongly would
      produce).

    Scale: cloning a 100 TB table with outstanding DVs is still
    O(|files|) log entries — forcing ``purge_dv`` first (the old
    refusal) would rewrite every DV'd file, exactly the write
    amplification MoR exists to avoid.

    Reference: the dbt project's Delta materializations
    (dbt_project.yml:39) fork prod→staging by clone; MoR DML between
    forks is routine."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q454_WH, ignore_errors=True)
    shutil.rmtree(Q454_CLONE, ignore_errors=True)
    store = SnapshotStore(spark, Q454_WH, retain_versions=6)
    base = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        F.col("s_nationkey").cast("long").alias("nation"),
        _money_cents("s_acctbal").alias("cents"),
    )
    store.overwrite("src", base, n_files=6)
    store.delete_where_mor("src", "k % 7 = 3")
    src_dir = store.path("src")

    dl.shallow_clone(src_dir, Q454_CLONE)
    cols = ["k", "nation", "cents"]
    src_df = dl.read_delta(spark, src_dir).select(*cols)
    clone_df = dl.read_delta(spark, Q454_CLONE).select(*cols)
    clone_matches_source = multiset_equal(clone_df, src_df)

    snap = dl.DeltaLog(Q454_CLONE).snapshot()
    dv_adds = [
        a for a in snap.files.values() if a.get("deletionVector")
    ]
    src_abs = os.path.abspath(src_dir)
    dv_carried_absolute = bool(dv_adds) and all(
        d["storageType"] == "p"
        and os.path.isabs(d["pathOrInlineDv"])
        and d["pathOrInlineDv"].startswith(src_abs + os.sep)
        and os.path.isfile(d["pathOrInlineDv"])
        for d in (a["deletionVector"] for a in dv_adds)
    )

    src_sidecars = glob.glob(
        os.path.join(src_dir, "**", "deletion_vector_*.bin"),
        recursive=True,
    )
    dl.DeltaLog(Q454_CLONE).vacuum()
    src_after = dl.read_delta(spark, src_dir).select(*cols)
    # ONE fused post-vacuum probe action (round-12 batch 8, guide
    # §1.2 — was a multiset_equal collect plus a count; the pre-vacuum
    # clone-equality probe above stays separate because its claim is
    # about clone time).
    pr = combine_single_rows(
        multiset_mismatch_flag(src_after, src_df, "__src_bad"),
        dl.read_delta(spark, Q454_CLONE)
        .where("k % 7 = 3")
        .agg(F.count(F.lit(1)).alias("__deleted_alive")),
    ).collect()[0]
    clone_vacuum_spares_source = (
        bool(src_sidecars)
        and all(os.path.isfile(p) for p in src_sidecars)
        and pr["__src_bad"] is None
    )
    deleted_stay_hidden = int(pr["__deleted_alive"]) == 0

    return (
        clone_df.groupBy((F.col("nation") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            "bucket",
            "n",
            "cents_sum",
            F.lit(bool(clone_matches_source)).alias(
                "clone_matches_source"
            ),
            F.lit(bool(dv_carried_absolute)).alias("dv_carried_absolute"),
            F.lit(bool(clone_vacuum_spares_source)).alias(
                "clone_vacuum_spares_source"
            ),
            F.lit(bool(deleted_stay_hidden)).alias("deleted_stay_hidden"),
        )
        .orderBy("bucket")
    )


Q454_SQL = """
WITH survivors AS (
  SELECT s_suppkey AS k, CAST(s_nationkey AS BIGINT) AS nation,
         CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM supplier
  WHERE NOT (s_suppkey % 7 = 3)
)
SELECT nation % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS clone_matches_source,
       TRUE AS dv_carried_absolute,
       TRUE AS clone_vacuum_spares_source,
       TRUE AS deleted_stay_hidden
FROM survivors
GROUP BY bucket
ORDER BY bucket
"""


# ------------------------------------------------------------- q455

Q455_WH = os.path.join(_FIX, "q455_warehouse")


def q455_protocol_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**vacuumProtocolCheck + checkpointProtection** (Delta
    PROTOCOL.md "Vacuum Protocol Check" / "Checkpoint Protection") —
    round-10 verdict item 4: the two protocol-safety gates the q444
    capstone family was missing.

    Lifecycle: overwrite → append → MoR DELETE (live DV sidecar) →
    demonstrate the hazard → declare the features → prove the gates.

    Pinned properties:

    * ``hazard_demonstrated`` — BEFORE the feature, a legacy client's
      vacuum (reader-check only, DV-unaware: ``vacuum_unaware``)
      dry-runs the LIVE deletion-vector sidecar onto its victim list
      — the corruption vacuumProtocolCheck exists to stop;
    * ``unaware_refused`` — AFTER ``enable_vacuum_protocol_check``,
      the same client fails the universal reader rule (unknown
      reader feature ⇒ unreadable) and raises before planning a
      single deletion; the sidecar file still exists;
    * ``engine_vacuum_safe`` — the engine's own vacuum (which
      performs the full WRITER protocol check the feature mandates)
      still runs and never lists a live file or live sidecar;
    * ``protection_keeps_history`` — with
      ``enable_checkpoint_protection(before_version=P)``, a later
      ``cleanup_log`` spares every commit and checkpoint below P:
      version-0 time travel still reconstructs (normally cleanup
      kills it), while commits in [P, newest-checkpoint) are still
      collected.

    Scale: both features are O(1) metadata commits. At 100 TB the
    hazard is existential — one legacy VACUUM deleting one shared
    sidecar corrupts every row the DV tombstoned."""
    from product_analytics_spark.sources import delta_log as dl
    from product_analytics_spark.sources.sinks import SnapshotStore

    shutil.rmtree(Q455_WH, ignore_errors=True)
    store = SnapshotStore(spark, Q455_WH, retain_versions=8)
    base = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        F.col("s_nationkey").cast("long").alias("nation"),
        _money_cents("s_acctbal").alias("cents"),
    )
    store.overwrite("t", base, n_files=4)                       # v0
    extras = base.where("k % 9 = 0").select(
        (F.col("k") + 100_000).alias("k"), "nation", "cents"
    )
    store.append("t", extras)                                   # v1
    store.delete_where_mor("t", "k % 7 = 3")                    # v2
    tdir = store.path("t")

    sidecars = glob.glob(
        os.path.join(tdir, "**", "deletion_vector_*.bin"),
        recursive=True,
    )
    victims0 = dl.vacuum_unaware(tdir, dry_run=True)
    hazard_demonstrated = bool(sidecars) and any(
        os.path.basename(v).startswith("deletion_vector_")
        for v in victims0
    )

    dl.enable_vacuum_protocol_check(tdir)                       # v3
    unaware_refused = False
    try:
        dl.vacuum_unaware(tdir, dry_run=True)
    except dl.DeltaProtocolError:
        unaware_refused = True
    unaware_refused = unaware_refused and all(
        os.path.isfile(p) for p in sidecars
    )

    snap = dl.DeltaLog(tdir).snapshot()
    live = set(snap.files)
    live_sidecar_rels = {
        os.path.relpath(p, tdir).replace(os.sep, "/") for p in sidecars
    }
    engine_victims = set(dl.DeltaLog(tdir).vacuum(dry_run=True))
    engine_vacuum_safe = not (
        engine_victims & (live | live_sidecar_rels)
    )

    # ---- checkpointProtection -------------------------------------
    log = dl.DeltaLog(tdir)
    v_cp_old = log.latest_version()
    log.write_checkpoint(v_cp_old)
    boundary = v_cp_old + 1
    dl.enable_checkpoint_protection(tdir, before_version=boundary)
    store.append(
        "t",
        base.where("k % 13 = 1").select(
            (F.col("k") + 200_000).alias("k"), "nation", "cents"
        ),
    )
    v_new = dl.DeltaLog(tdir).latest_version()
    dl.DeltaLog(tdir).write_checkpoint(v_new)
    dl.DeltaLog(tdir).cleanup_log()
    ldir = os.path.join(tdir, "_delta_log")
    protected_commits_survive = all(
        os.path.isfile(os.path.join(ldir, f"{v:020d}.json"))
        for v in range(0, boundary)
    )
    protected_cp_survives = os.path.isfile(
        os.path.join(ldir, f"{v_cp_old:020d}.checkpoint.parquet")
    )
    collected_between = not os.path.isfile(
        os.path.join(ldir, f"{boundary:020d}.json")
    )
    # ONE fused probe action (round-12 batch 8, guide §1.2 — was two
    # separate counts of the v0 travel read and the base).
    pr = combine_single_rows(
        dl.read_delta(spark, tdir, version=0).agg(
            F.count(F.lit(1)).alias("__v0_n")
        ),
        base.agg(F.count(F.lit(1)).alias("__base_n")),
    ).collect()[0]
    time_travel_v0 = int(pr["__v0_n"]) == int(pr["__base_n"])
    protection_keeps_history = (
        protected_commits_survive
        and protected_cp_survives
        and collected_between
        and time_travel_v0
    )

    cur = dl.read_delta(spark, tdir).select("k", "nation", "cents")
    return (
        cur.groupBy((F.col("nation") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            "bucket",
            "n",
            "cents_sum",
            F.lit(bool(hazard_demonstrated)).alias("hazard_demonstrated"),
            F.lit(bool(unaware_refused)).alias("unaware_refused"),
            F.lit(bool(engine_vacuum_safe)).alias("engine_vacuum_safe"),
            F.lit(bool(protection_keeps_history)).alias(
                "protection_keeps_history"
            ),
        )
        .orderBy("bucket")
    )


Q455_SQL = """
WITH base AS (
  SELECT s_suppkey AS k, CAST(s_nationkey AS BIGINT) AS nation,
         CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM supplier
),
with_extras AS (
  SELECT * FROM base
  UNION ALL
  SELECT k + 100000 AS k, nation, cents FROM base WHERE k % 9 = 0
),
after_delete AS (
  SELECT * FROM with_extras WHERE NOT (k % 7 = 3)
),
current_t AS (
  SELECT * FROM after_delete
  UNION ALL
  SELECT k + 200000 AS k, nation, cents FROM base WHERE k % 13 = 1
)
SELECT nation % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS hazard_demonstrated,
       TRUE AS unaware_refused,
       TRUE AS engine_vacuum_safe,
       TRUE AS protection_keeps_history
FROM current_t
GROUP BY bucket
ORDER BY bucket
"""


# ------------------------------------------------------------- q456

Q456_DIR = os.path.join(_FIX, "q456_table")


def q456_commit_owner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Coordinated commits through a CommitOwner** — round-10
    verdict item 5: the hardlink putIfAbsent is one IMPLEMENTATION of
    commit atomicity, now behind the ``CommitOwner`` seam; the
    ``InProcessCommitOwner`` registry is the catalog-owned
    alternative (Delta 4.x commit coordinators) an object store
    without putIfAbsent requires.

    Lifecycle: version-0 table through the registry owner → two
    writers RACE the same next version through the shared owner →
    the loser re-reads and lands on top.

    Pinned properties:

    * ``race_serialized`` — exactly ONE of the two same-version
      commits wins; the other gets ``DeltaConflictError`` from the
      owner (never a torn file);
    * ``loser_retried`` — the losing writer retries at the next
      version and its batch lands (standard OCC loop, owner-
      mediated);
    * ``owners_interoperate`` — a hardlink-owner writer can commit
      on top of registry-owner history (same log, same rules: the
      seam changes WHO answers putIfAbsent, not the log format).

    Scale: on S3-before-putIfAbsent / multi-cluster Databricks, the
    owner IS the correctness story — without it, two clusters both
    believe they wrote version N and the log forks."""
    import threading as _th

    from product_analytics_spark.sources import delta_log as dl

    shutil.rmtree(Q456_DIR, ignore_errors=True)
    os.makedirs(Q456_DIR, exist_ok=True)
    # the registry owner survives table recreation by design (it is
    # the authority) — a rebuilt fixture must re-register
    dl.InProcessCommitOwner.reset(os.path.join(Q456_DIR, "_delta_log"))
    base = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        F.col("s_nationkey").cast("long").alias("nation"),
        _money_cents("s_acctbal").alias("cents"),
    )
    # three pre-written data files: seed + one per racing writer
    seed_dir = os.path.join(Q456_DIR, "seed")
    a_dir = os.path.join(Q456_DIR, "wa")
    b_dir = os.path.join(Q456_DIR, "wb")
    base.where("k % 3 = 0").coalesce(1).write.parquet(seed_dir)
    base.where("k % 3 = 1").coalesce(1).write.parquet(a_dir)
    base.where("k % 3 = 2").coalesce(1).write.parquet(b_dir)

    def _adds(sub: str) -> list[dict]:
        d = os.path.join(Q456_DIR, sub)
        return [
            {"add": dl.make_add(Q456_DIR, os.path.join(d, f))}
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]

    owner = dl.InProcessCommitOwner()
    log0 = dl.DeltaLog(Q456_DIR, owner=owner)
    schema_json = spark.read.parquet(seed_dir).schema.json()
    log0.commit(
        [
            {"protocol": dict(dl.PROTOCOL_ACTION)},
            {"metaData": dl.make_metadata(schema_json, [])},
        ]
        + _adds("seed"),
        version=0,
    )

    conflicts: list[str] = []
    landed: list[str] = []
    gate = _th.Barrier(2)

    def _writer(tag: str, sub: str):
        log = dl.DeltaLog(Q456_DIR, owner=owner)
        gate.wait()
        try:
            log.commit(_adds(sub), version=1, operation="WRITE")
            landed.append(tag)
        except dl.DeltaConflictError:
            conflicts.append(tag)
            log.commit(_adds(sub), version=2, operation="WRITE")
            landed.append(tag)

    ts = [
        _th.Thread(target=_writer, args=("a", "wa")),
        _th.Thread(target=_writer, args=("b", "wb")),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    race_serialized = len(conflicts) == 1 and sorted(landed) == ["a", "b"]
    loser_retried = dl.DeltaLog(Q456_DIR).latest_version() == 2

    # a hardlink-owner writer on top of registry-owner history
    owners_interoperate = True
    try:
        marker = dl.DeltaLog(Q456_DIR)  # default FileSystemCommitOwner
        marker.commit([], version=3, operation="OPTIMIZE")
    except Exception:  # noqa: BLE001
        owners_interoperate = False

    cur = dl.read_delta(spark, Q456_DIR).select("k", "nation", "cents")
    return (
        cur.groupBy((F.col("nation") % 5).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents_sum"),
        )
        .select(
            "bucket",
            "n",
            "cents_sum",
            F.lit(bool(race_serialized)).alias("race_serialized"),
            F.lit(bool(loser_retried)).alias("loser_retried"),
            F.lit(bool(owners_interoperate)).alias("owners_interoperate"),
        )
        .orderBy("bucket")
    )


Q456_SQL = """
WITH base AS (
  SELECT s_suppkey AS k, CAST(s_nationkey AS BIGINT) AS nation,
         CAST(CAST(s_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM supplier
)
SELECT nation % 5 AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       TRUE AS race_serialized,
       TRUE AS loser_retried,
       TRUE AS owners_interoperate
FROM base
GROUP BY bucket
ORDER BY bucket
"""


# ------------------------------------------------------------- q457


def q457_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """**Engine-native AQE skew-join door** — round-10 verdict item
    6: ``session.py`` enables ``spark.sql.adaptive.skewJoin`` but no
    cert pinned the runtime split the way q371 pins the runtime
    bloom filter. This one does: a deliberately skewed sort-merge
    join (~80% of fact rows on one hot key, broadcast disabled) runs
    under AQE with cert-scaled skew thresholds, and the EXECUTED plan
    must carry the ``skew=true`` split marker — Spark's
    OptimizeSkewedJoin replanned the hot partition into
    PartialReducer splits at runtime.

    Pinned properties:

    * ``aqe_skew_split`` — the final adaptive plan shows
      ``SortMergeJoin ... skew=true`` (runtime split happened; a
      single-mapper input cannot split, which is why the fact side
      is pre-distributed across 16 map tasks — the 100 TB shape,
      where scans are always many-mapper);
    * ``matches_salted`` — the result is row-identical to the MANUAL
      salting remedy (``operators/skew.salted_join``, q109's shape):
      the engine-native and static remedies agree bit-for-bit;
    * values are frozen after computation (the returned DataFrame is
      a literal re-materialization), so the driver's re-collect
      cannot race the restored session confs.

    Skew-remedy decision table (also in ``salted_join``'s docstring):
    broadcast if the dim fits; AQE skew split handles SMJ skew at
    runtime with NO query rewrite (this door); static salting when
    hot keys are known and the dim is too big to broadcast.

    Scale: at 100 TB a hot key pins one reducer for hours; the split
    spreads exactly the oversized partition, leaving the other
    shuffle partitions untouched — strictly better than global
    salting's dim replication."""
    from product_analytics_spark.operators.skew import salted_join

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "2048",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2048",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    old: dict[str, str | None] = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset conf
            old[k] = None
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # repartition BEFORE the 20x explode (round-12, guide §2.5 /
        # §3.3): the 16-way distribution shuffles the un-exploded rows
        # (20x fewer bytes) and the explode itself runs across the 16
        # map tasks instead of inside the single-split source scan
        # (measured 1.2-1.4 s single-task stages per arm). The join
        # input is still 16 mappers, which the skew-split cert needs.
        fact = (
            _t(spark, sf_dir, "orders")
            .select(
                F.when(F.col("o_orderkey") % 10 < 8, F.lit(0))
                .otherwise(F.col("o_orderkey") % 97 + 1)
                .alias("jk"),
                _money_cents("o_totalprice").alias("cents"),
            )
            .repartition(16)
            .withColumn(
                "rep", F.explode(F.sequence(F.lit(1), F.lit(20)))
            )
            .drop("rep")
        )
        dim = spark.range(0, 98).select(
            F.col("id").alias("jk"), (F.col("id") % 7).alias("grp")
        )
        j = (
            fact.join(dim, "jk")
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("cents_sum"),
            )
            .orderBy("grp")
        )
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        aqe_skew_split = "skew=true" in plan

        salted = (
            salted_join(
                fact,
                dim,
                "jk",
                fact_salt=F.pmod(F.col("cents"), F.lit(8)),
                n_salts=8,
            )
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("cents_sum"),
            )
            .orderBy("grp")
            .collect()
        )
        matches_salted = [tuple(r) for r in rows] == [
            tuple(r) for r in salted
        ]
    finally:
        for k, v in old.items():
            if v is None:
                try:
                    spark.conf.unset(k)
                except Exception:  # noqa: BLE001
                    pass
            else:
                spark.conf.set(k, v)

    out = local_rows_df(spark, 
        [(r.grp, r.n, r.cents_sum) for r in rows],
        "grp bigint, n bigint, cents_sum bigint",
    )
    return out.select(
        "grp",
        "n",
        "cents_sum",
        F.lit(bool(aqe_skew_split)).alias("aqe_skew_split"),
        F.lit(bool(matches_salted)).alias("matches_salted"),
    ).orderBy("grp")


Q457_SQL = """
WITH fact AS (
  SELECT CASE WHEN o_orderkey % 10 < 8 THEN 0
              ELSE o_orderkey % 97 + 1 END AS jk,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders
),
dim AS (
  SELECT r AS jk, r % 7 AS grp FROM range(0, 98) t(r)
)
SELECT CAST(grp AS BIGINT) AS grp,
       CAST(count(*) * 20 AS BIGINT) AS n,
       CAST(sum(cents) * 20 AS BIGINT) AS cents_sum,
       TRUE AS aqe_skew_split,
       TRUE AS matches_salted
FROM fact JOIN dim USING (jk)
GROUP BY grp
ORDER BY grp
"""


# ------------------------------------------------------------- q458


def q458_aqe_coalesce_partitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """**Engine-native AQE partition coalescing door** — q457's
    sibling: where the skew split divides an OVERSIZED partition at
    runtime, coalescing merges UNDERSIZED ones. A grouped aggregation
    is forced through a deliberately over-partitioned shuffle (64
    shuffle partitions for a handful of groups); AQE must merge the
    post-shuffle reads — the EXECUTED plan carries the
    ``AQEShuffleRead coalesced`` node and the final stage runs a
    small fraction of the static partition count.

    Pinned properties:

    * ``aqe_coalesced`` — the final adaptive plan shows a coalesced
      shuffle read (runtime merge happened);
    * ``few_tasks`` — the result's partition count collapsed to at
      most HALF the static 64 (with ~25 nation groups and tiny
      bytes, AQE merges to ~#groups nonempty reads — 20 measured);
    * values frozen post-computation (same driver-re-collect safety
      as q457).

    Scale: the INVERSE pathology of skew — a 100 TB job tuned to
    20k shuffle partitions emits mostly-empty reducers on filtered
    intermediate stages; runtime coalescing recovers task-scheduling
    overhead (at 10ms/task, 19k empty tasks is 3+ idle minutes per
    stage) without hand-tuning every stage's parallelism."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
        "spark.sql.shuffle.partitions": "64",
    }
    old: dict[str, str | None] = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset conf
            old[k] = None
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        j = (
            _t(spark, sf_dir, "customer")
            .select(
                F.col("c_nationkey").cast("long").alias("nation"),
                _money_cents("c_acctbal").alias("cents"),
            )
            .groupBy("nation")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("cents_sum"),
            )
        )
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        aqe_coalesced = "coalesced" in plan
        n_parts = j.rdd.getNumPartitions()
        few_tasks = n_parts <= 32  # at most half the static 64
    finally:
        for k, v in old.items():
            if v is None:
                try:
                    spark.conf.unset(k)
                except Exception:  # noqa: BLE001
                    pass
            else:
                spark.conf.set(k, v)

    out = local_rows_df(spark, 
        [(r.nation, r.n, r.cents_sum) for r in rows],
        "nation bigint, n bigint, cents_sum bigint",
    )
    return out.select(
        "nation",
        "n",
        "cents_sum",
        F.lit(bool(aqe_coalesced)).alias("aqe_coalesced"),
        F.lit(bool(few_tasks)).alias("few_tasks"),
    ).orderBy("nation")


Q458_SQL = """
SELECT CAST(c_nationkey AS BIGINT) AS nation,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS cents_sum,
       TRUE AS aqe_coalesced,
       TRUE AS few_tasks
FROM customer
GROUP BY nation
ORDER BY nation
"""


QUERIES_EXT94 = {
    "q454_shallow_clone_dv": q454_shallow_clone_dv,
    "q455_protocol_safety": q455_protocol_safety,
    "q456_commit_owner": q456_commit_owner,
    "q457_aqe_skew_join": q457_aqe_skew_join,
    "q458_aqe_coalesce_partitions": q458_aqe_coalesce_partitions,
}


def _oracles_ext94() -> dict[str, str]:
    return {
        "q454_shallow_clone_dv": Q454_SQL,
        "q455_protocol_safety": Q455_SQL,
        "q456_commit_owner": Q456_SQL,
        "q457_aqe_skew_join": Q457_SQL,
        "q458_aqe_coalesce_partitions": Q458_SQL,
    }

package graft.sources

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, MetadataBuilder,
  StructField, StructType}

/** Keyed upsert ("MERGE") and partition-overwrite writers over parquet
  * table directories — the Spark-side equivalent of the reference's
  * transactional Sequelize loads:
  *
  *  - L1 state upsert on `(partitionKey, sortKey)`
  *    (`src/workitem/state_load_processor_aurora.ts:25-129`, unique index
  *    `sql/full_ddl.sql:1358`);
  *  - L2 snapshot upsert on `(partitionKey, workItemId, type, revision,
  *    flomatikaSnapshotDate)` (`snapshot_load_processor_aurora.ts:25-70`,
  *    `full_ddl.sql:1197`) — the natural key makes at-least-once delivery
  *    idempotent;
  *  - A10 context-membership refresh = per-partition overwrite
  *    (`context_workitem_map_processor_aurora.ts:129-224`: bulk upsert +
  *    anti-delete ≡ replace the partition).
  *
  * On a lakehouse deployment these become `MERGE INTO` on Delta/Iceberg;
  * this writer reproduces the semantics — INCLUDING table-atomic commit —
  * on plain parquet with the same design those formats use:
  *
  *  - data files are immutable and live under per-merge EPOCH directories
  *    (`e-<uuid>/__bucket=K/...`), one subdir per key-hash bucket;
  *  - a versioned MANIFEST (`_manifest-<n>.json`) maps every bucket to the
  *    epoch holding its current data; readers resolve the highest manifest;
  *  - a merge writes only the touched buckets into a fresh epoch, then
  *    commits by writing the next manifest via an atomic rename. A crash at
  *    ANY point before the rename leaves an orphan epoch that no reader
  *    ever sees; after the rename the new table state is fully visible.
  *    This is exactly Iceberg's snapshot commit / Delta's log entry, scaled
  *    down to one JSON file.
  *
  * I/O per merge is O(touched buckets), not O(table): the manifest prunes
  * the read to the touched buckets' directories, and untouched buckets keep
  * their old epoch pointers. The last [[KeepManifests]] manifests (and every
  * epoch they reference) survive commits, so readers planned against the
  * previous version keep working; older manifests and unreferenced epochs
  * are garbage-collected after each commit.
  */
object MergeWriter {

  /** Last-wins dedupe of a batch on its natural key (the pre-write dedupe
    * the reference delegates to the DB unique index). `orderBy` breaks ties
    * between duplicate keys — pass the ingestion/version column.
    */
  def dedupeOnKey(batch: DataFrame, keys: Seq[String],
                  orderBy: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderBy.map(_.desc): _*)
    batch.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Key-hash bucket column — a physical layout detail: epoch directories
    * are partitioned by it and [[readTable]] never exposes it.
    */
  val BucketCol = "__bucket"

  private val ManifestPrefix = "_manifest-"

  /** How many committed versions stay readable after a merge. Two covers
    * the single-writer contract: plans built against the previous version
    * remain valid through the next commit.
    */
  val KeepManifests = 2

  /** OPTIMIZE-on-write threshold: a merge that leaves MORE than this many
    * live epoch directories triggers an inline [[compact]] (Delta's
    * auto-optimize / Iceberg's commit-time rewrite, scaled to the
    * manifest protocol). Each incremental merge strands its touched
    * buckets in a fresh epoch, so a long-lived table accumulates one
    * directory per merge and readers open ever more small files; bounding
    * live epochs bounds per-scan file count while amortizing the O(table)
    * rewrite over ~threshold merges — steady-state write amplification is
    * 1/threshold of the table per merge round.
    */
  val AutoCompactEpochs = 16

  /** Default per-file expected-items sizing for [[Manifest.bloomCols]]
    * filters (~117 KB per file·column at 3% fpp — Delta's default Bloom
    * index sizing is the same order). Override per table at creation.
    */
  val DefaultBloomItems: Long = 100000L

  /** Epoch-directory sidecar holding the per-file Bloom filters of the
    * table's [[Manifest.bloomCols]]. Leading underscore = invisible to
    * Spark's parquet discovery; lives and dies with its epoch.
    */
  private val BloomSidecar = "_blooms.json"

  /** `txns` records the highest applied batch version per writer app id
    * (Delta's transaction identifiers): because it rides IN the manifest,
    * "was this batch already applied" and the data it applied commit in
    * the SAME atomic rename — the exactly-once guard non-idempotent
    * (additive) merges need under at-least-once delivery.
    *
    * `schema` is the committed table schema (Spark `StructType.json`,
    * without [[BucketCol]]), recorded at every commit exactly as Delta's
    * log / Iceberg's table metadata record theirs: readers plan with
    * `spark.read.schema(stored)` and never run the distributed
    * parquet-footer schema-merge job (`mergeSchema=true`), which at scale
    * is a per-read metadata job proportional to the table's file count —
    * in a path designed to be O(touched buckets). Old epoch files written
    * before an additive evolution are narrower than the stored schema;
    * the parquet reader null-fills the missing columns, which is exactly
    * the evolution semantics. `None` only for pre-schema manifests
    * (backward compat) — those fall back to a footer merge once and are
    * upgraded by their next commit.
    */
  /** `keyCols` is the table's merge-key column list, recorded IN ORDER at
    * creation: `hash(keys…)` is order-sensitive, so a caller passing the
    * same columns in a different order would re-bin every row under a
    * hash future merges won't compute — bucket pruning silently misses
    * rows and keyed-replace leaves stale duplicates behind. Every keyed
    * entry point validates its supplied keys against the recorded list
    * and fails loudly on mismatch. Empty only for pre-keyCols manifests
    * (backward compat) — those accept the caller's keys once and record
    * them at their next commit.
    */
  /** Per-data-file column statistics, recorded in the manifest at epoch
    * write (Delta's per-file stats / Iceberg's manifest column metrics,
    * scaled to this protocol): file size and row count, plus min/max per
    * indexed column in a canonical string domain (longs for integral /
    * date-days / timestamp-micros, doubles for float/double, raw UTF-8
    * for strings). They are read straight from the just-written parquet
    * FOOTERS — no extra pass over the data — so recording cost is
    * O(touched files) driver-side metadata reads per commit.
    * [[readTableRange]] prunes at file granularity with them, and
    * auto-split reads bucket sizes from them without listing the table.
    */
  private[sources] case class FileStat(name: String, bytes: Long, rows: Long,
                                       mins: Map[String, String],
                                       maxs: Map[String, String],
                                       nulls: Map[String, Long] = Map.empty,
                                       fp: String = "",
                                       // DELETION VECTOR (merge-on-read
                                       // delete, Delta's DV / Iceberg v2
                                       // position deletes): name of the
                                       // `_dv/` sidecar holding this
                                       // file's dead row positions, and
                                       // how many. Empty ⇔ every stored
                                       // row is live. A file's min/max/
                                       // null stats stay SOUND under row
                                       // removal (they can only widen
                                       // relative to the live rows —
                                       // skipping keeps a superset), but
                                       // exact-count serving must treat
                                       // `rows` as physical and subtract
                                       // or bail (statsAggregate bails).
                                       dv: String = "",
                                       dvn: Long = 0L,
                                       // EPOCH ATTRIBUTION for overlay
                                       // files (merge-on-read upserts):
                                       // the epoch directory this file
                                       // lives in when it is NOT the
                                       // bucket's base pointer epoch.
                                       // "" = the base epoch (every
                                       // pre-overlay file).
                                       e: String = "")

  /** `clusterCols` (recorded at creation, like `keyCols`) order rows
    * WITHIN each bucket file write (`sortWithinPartitions` — a local
    * sort, no exchange): with `spark.sql.files.maxRecordsPerFile` set,
    * a bucket's output splits into several files covering CONSECUTIVE
    * cluster-column ranges, which is what makes per-file min/max stats
    * actually prune a range read (an unclustered hash bucket's single
    * file spans the full range and no stat can skip it) — Delta's
    * 1-D OPTIMIZE clustering, applied on every write.
    */
  /** `bloomCols` (recorded at creation, like `clusterCols`) declare
    * columns that get a PER-FILE Bloom filter sidecar at every epoch
    * write (Delta's Bloom filter index / the reference's btree on
    * `snapshots.workItemId`, `sql/full_ddl.sql:1189-1199`, re-expressed
    * for immutable files): min/max stats cannot serve an EQUALITY probe
    * on a high-cardinality column the table is NOT clustered by — every
    * file's [min,max] spans the whole domain — but a Bloom filter
    * answers "definitely absent" per file. Sidecars live in the epoch
    * directory (`_blooms.json`, invisible to parquet reads, reclaimed
    * with the epoch by gc), so the manifest never bloats and the
    * sidecar commits atomically WITH its epoch: the manifest rename
    * that publishes the epoch publishes its blooms.
    *
    * `bloomItems` sizes every filter (expected distinct items per
    * file, fpp 3%). An UNDERSIZED filter saturates and degrades to
    * "might contain" for everything — safe (skipping only ever removes
    * provably-absent files), just useless — so size it to the table's
    * `maxRecordsPerFile`.
    */
  /** `op`/`opTs` record WHAT wrote each version and WHEN (Delta's
    * commitInfo / DESCRIBE HISTORY, scaled to this protocol): purely
    * informational — no read or conflict decision consults them — but
    * the first thing an operator asks of a misbehaving table.
    * [[tableHistory]] surfaces the retained window.
    */
  /** `retainVersions`/`retainMs` are the PER-TABLE retention policy
    * (Delta's log/deleted-file retention, recorded in the table, not
    * the writer): gc keeps the last `max(retainVersions,
    * KeepManifests)` versions, PLUS any version younger than
    * `retainMs` (0 = count-only). Raised retention is what lets a
    * lagging CDC consumer ([[changeFeed]], `syncReplica`, the
    * streaming source) resume after a multi-commit stall instead of
    * re-seeding from a full snapshot — at 100 TB a table-sized
    * penalty. Set via [[setRetention]] or the catalog's
    * `retainVersions`/`retainMs` TBLPROPERTIES; every commit carries
    * the policy forward.
    */
  private[sources] case class Manifest(version: Long, buckets: Int,
                                       epochs: Map[Int, String],
                                       txns: Map[String, Long] = Map.empty,
                                       schema: Option[String] = None,
                                       keyCols: Seq[String] = Seq.empty,
                                       clusterCols: Seq[String] = Seq.empty,
                                       stats: Map[Int, Seq[FileStat]] = Map.empty,
                                       bloomCols: Seq[String] = Seq.empty,
                                       bloomItems: Long = DefaultBloomItems,
                                       op: String = "",
                                       opTs: Long = 0L,
                                       retainVersions: Int = KeepManifests,
                                       retainMs: Long = 0L,
                                       fingerprint: Boolean = false,
                                       // EVIDENCE that no live epoch can
                                       // hold a NULL merge key: true iff
                                       // every live epoch was written
                                       // through `bucketExprChecked`'s
                                       // AssertNotNull (creation, or a
                                       // commit that replaced every live
                                       // bucket). Gates the catalog's
                                       // NOT NULL key surface (sqlSchema)
                                       // — a legacy pre-enforcement epoch
                                       // keeps keys nullable until a full
                                       // rewrite re-certifies, so
                                       // Catalyst never optimizes on an
                                       // unproven nullability claim.
                                       keysChecked: Boolean = false,
                                       // STABLE COLUMN IDENTITY (Iceberg
                                       // field IDs / Delta column-mapping
                                       // 'id', on the parquet-native
                                       // `parquet.field.id` mechanism):
                                       // logical column name → the field
                                       // id stamped into every epoch
                                       // file this table writes. Lets
                                       // RENAME/DROP COLUMN be METADATA-
                                       // ONLY (immutable files keep
                                       // their old names; readers match
                                       // by id). Empty ⇔ the table
                                       // predates id stamping: its live
                                       // files carry no ids, so renames
                                       // are rejected until a full
                                       // rewrite migrates it.
                                       colIds: Map[String, Long] = Map.empty,
                                       // next id to assign — NEVER reused
                                       // after a drop, so a re-added
                                       // column of the same name cannot
                                       // resurrect dropped data. 0 ⇔ not
                                       // id-stamped.
                                       nextColId: Long = 0L,
                                       // DELETION-VECTOR policy (opt-in
                                       // at creation, like fingerprint):
                                       // when true, a small keyed delete
                                       // commits per-file dead-position
                                       // sidecars instead of rewriting
                                       // its touched buckets — write
                                       // I/O ∝ deleted rows, not bucket
                                       // bytes. Reads filter dead rows
                                       // through [[readWithSchema]]'s
                                       // DV-aware core; compaction
                                       // purges. Between a DV commit and
                                       // the next compaction, catalog
                                       // scans keep the native DSv2
                                       // plan (reader-side row-index
                                       // skip); format("graft") scans
                                       // serve through a V1 bridge.
                                       deleteVectors: Boolean = false,
                                       // TABLE-LEVEL column statistics
                                       // (ANALYZE TABLE — Delta ANALYZE
                                       // / Iceberg puffin NDV sketches):
                                       // per-column NDV, null count,
                                       // avg/max byte length, canonical
                                       // min/max, recorded by
                                       // [[analyzeTable]] and served to
                                       // Spark's CBO through the
                                       // catalog scan. ESTIMATES by
                                       // contract: commits carry them
                                       // forward unchanged (Delta's
                                       // behavior); `statsVersion`
                                       // records the version analyzed
                                       // so staleness is visible.
                                       colStats: Map[String, ColStat] =
                                         Map.empty,
                                       statsVersion: Long = 0L,
                                       // live-row total at analyze time
                                       // — the scan's staleness gate
                                       // compares it to the CURRENT
                                       // live total and withholds
                                       // drifted stats from the CBO
                                       // (0 = unknown / legacy)
                                       statsRows: Long = 0L,
                                       // VERSION TAGS (Iceberg's named
                                       // refs): tag name → the manifest
                                       // version it pins. A tagged
                                       // version is immune to gc and
                                       // count-based retention until
                                       // the tag drops — the audit /
                                       // WAP anchor ("the state we
                                       // certified"). Names must not
                                       // parse as a number (they share
                                       // VERSION AS OF's namespace).
                                       tags: Map[String, Long] = Map.empty,
                                       // MERGE-ON-READ OVERLAYS
                                       // (Iceberg v2's data-file adds
                                       // beside position deletes): per
                                       // bucket, EXTRA epoch dirs whose
                                       // files hold this bucket's rows
                                       // IN ADDITION to the base
                                       // pointer epoch. A MoR upsert
                                       // appends its incoming rows as
                                       // one overlay and DVs the
                                       // replaced keys' old positions,
                                       // so no read-side key dedupe is
                                       // ever needed. Any full bucket
                                       // rewrite (CoW merge, delete,
                                       // compact, split) clears the
                                       // bucket's overlay list.
                                       overlays: Map[Int, Seq[String]] =
                                         Map.empty,
                                       // NAMED BRANCH staging (WAP):
                                       // set (>= 0) only on `_branch-`
                                       // manifests — the MAIN version
                                       // the branch was created from.
                                       // fast_forward publishes the
                                       // branch head onto main iff main
                                       // still sits at this version.
                                       branchBase: Long = -1L,
                                       // CHECK CONSTRAINTS (Delta's
                                       // table constraints / ANSI
                                       // CHECK): name → predicate SQL.
                                       // Added by ALTER TABLE ADD
                                       // CONSTRAINT after a one-pass
                                       // validation of existing rows;
                                       // every data-adding write path
                                       // enforces them in a single
                                       // codegen'd pass fused with the
                                       // epoch write (a violating row
                                       // fails the whole commit — ANSI
                                       // semantics: NULL predicates
                                       // pass). Ride every commit
                                       // forward like tags; a rebase
                                       // over a concurrent constraint
                                       // change conflicts loudly (the
                                       // batch was validated under the
                                       // OLD set).
                                       checks: Map[String, String] =
                                         Map.empty,
                                       // INCREMENTAL NDV SKETCHES
                                       // (Iceberg puffin theta/HLL
                                       // sketches, maintained like
                                       // Delta's stats-on-write):
                                       // per-column base64 DataSketches
                                       // HLL, recorded by ANALYZE and
                                       // UNIONED with each commit's
                                       // written-rows sketch — one
                                       // narrow agg job ∝ batch, never
                                       // ∝ corpus — so `colStats.ndv`
                                       // stays fresh on a hot table
                                       // instead of rotting until the
                                       // next full ANALYZE. HLL never
                                       // subtracts: under deletes the
                                       // NDV is an upper bound (the
                                       // safe direction — the gate's
                                       // statsRows drift check still
                                       // applies). Empty ⇔ table not
                                       // ANALYZEd with sketches.
                                       colSketches: Map[String, String] =
                                         Map.empty,
                                       // IDENTITY columns (GENERATED BY
                                       // DEFAULT AS IDENTITY): per
                                       // column the HIGH-WATER value —
                                       // the largest (step>0) /
                                       // smallest (step<0) value any
                                       // commit has stored, explicit or
                                       // assigned. NULL inputs get
                                       // fresh values past it; the
                                       // commit CAS conflicts when a
                                       // concurrent writer moved it
                                       // (overlapping reservations must
                                       // re-run, never collide). Spec
                                       // (start/step) lives in the
                                       // schema's field metadata.
                                       idhw: Map[String, Long] =
                                         Map.empty,
                                       // EQUI-HEIGHT HISTOGRAMS (ANALYZE
                                       // — Spark's own histogram shape):
                                       // per rangeable column, a compact
                                       // "height|lo,hi,ndv;..." record
                                       // in the canonical internal
                                       // domain (days / micros /
                                       // numeric as double). Served to
                                       // the CBO with the other column
                                       // stats (same freshness gate) so
                                       // selectivity on SKEWED columns
                                       // tracks the real distribution
                                       // instead of uniform-NDV
                                       // assumptions. ESTIMATES pinned
                                       // to statsVersion, carried
                                       // forward like colStats.
                                       colHists: Map[String, String] =
                                         Map.empty,
                                       // EQUALITY DELETES (Iceberg v2
                                       // equality-delete files): per
                                       // bucket, ordered sidecar
                                       // records of DOOMED KEYS — each
                                       // kills matching rows in the
                                       // bucket's epochs with ordinal
                                       // < upTo (base = 0, overlays in
                                       // append order). Written by the
                                       // write-only MoR upsert/delete
                                       // (no position-resolving probe
                                       // read in the write path — the
                                       // trickle-CDC shape); format
                                       // reads filter them by a
                                       // broadcast anti-join, the
                                       // native catalog scan resolves
                                       // them to row positions at plan
                                       // time, any full bucket rewrite
                                       // purges. See [[EqDel]].
                                       eqds: Map[Int, Seq[EqDel]] =
                                         Map.empty,
                                       // EQUALITY-DELETE policy (opt-in
                                       // at creation; requires
                                       // deleteVectors): when true,
                                       // small keyed upserts/deletes
                                       // commit doomed-KEY sidecars
                                       // instead of probing stored rows
                                       // for positions — the write path
                                       // never reads.
                                       eqDeletes: Boolean = false,
                                       // MANIFEST SEGMENTATION
                                       // bookkeeping (Iceberg's manifest
                                       // list, adapted to this CAS): the
                                       // ordered content hashes of the
                                       // `_seg/` files this manifest was
                                       // read from / written with, one
                                       // per bucket range. NOT part of
                                       // the logical table state — it
                                       // rides `.copy()` only as a
                                       // REUSE HINT for the next commit
                                       // (reuse is granted solely by
                                       // payload equality, never by the
                                       // hint alone) and as gc's live-
                                       // segment root set when read
                                       // from disk. Empty ⇔ inline
                                       // manifest.
                                       segs: Seq[String] = Seq.empty,
                                       // SHREDDED VARIANT PATHS
                                       // (declared at creation): typed
                                       // extractions of a VARIANT
                                       // column materialized as HIDDEN
                                       // physical columns in every
                                       // epoch file, so variant-path
                                       // predicates ride the ordinary
                                       // per-file min/max + Bloom
                                       // skipping. See [[ShredSpec]].
                                       shredCols: Seq[ShredSpec] =
                                         Seq.empty)

  /** One equality-delete record of a bucket (see [[Manifest.eqds]]):
    * `sidecar` names a parquet directory under `_eqd/` holding the
    * doomed key tuples (typed exactly as the table's key columns,
    * field-id stamped like any epoch file so renames stay metadata-
    * only); `upTo` is the count of the bucket's live epochs (base +
    * overlays) at commit time — the record kills matching rows ONLY in
    * epochs with ordinal < upTo, so the same commit's own overlay (and
    * every later one) is exempt, exactly Iceberg's sequence-number
    * scoping; `n` is the doomed-key count (pressure accounting).
    */
  private[sources] case class EqDel(sidecar: String, upTo: Int, n: Long)

  /** One declared SHREDDED VARIANT PATH (see [[Manifest.shredCols]]) —
    * the file-skipping answer to "every variant-path predicate scans
    * all files" while Spark's `PushVariantIntoScan` covers only the V1
    * read path (parquet write-shredding, `VariantMetadata` — the same
    * idea at row-group granularity; this is its FILE-granularity
    * counterpart on the manifest's own stats machinery). `column` names
    * a declared VARIANT column, `path` a variant extraction path
    * (`$.status`), `typeDdl` the extraction's target type. Every epoch
    * write materializes `try_variant_get(column, path, typeDdl)` as a
    * hidden physical parquet column ([[shredColName]] — present in the
    * files, absent from the table schema, invisible to every read), so
    * the ordinary footer min/max stats and Bloom sidecars cover it; the
    * scan's file listing rewrites a matching `variant_get`/
    * `try_variant_get` predicate to that hidden column and prunes files
    * through the SAME keep functions as any declared column.
    *
    * Boundary, stated plainly: shredding is declared at CREATE (the
    * values live in immutable files — files written before a
    * declaration simply record no stats under the hidden name and are
    * never pruned, which is sound but useless, so declare up front);
    * and the hidden values carry TRY semantics (`try_variant_get` —
    * ingest must not fail on one uncastable row), so pruning a file can
    * elide the per-row cast error the STRICT `variant_get` form would
    * have raised for a row inside it. Row RESULTS are unaffected
    * either way: a null extraction matches no equality/range predicate.
    */
  private[sources] case class ShredSpec(column: String, path: String,
                                        typeDdl: String) {
    def dataType: DataType =
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(typeDdl)
  }

  /** The hidden physical column name of one shred declaration —
    * deterministic, readable, and collision-proofed by a content hash
    * (two paths that sanitize identically still get distinct names).
    * Derived from the LOGICAL column name: a rename changes the name
    * for future epochs, old files' recorded stats stay keyed under the
    * old name and simply never prune (sound).
    */
  private[sources] def shredColName(s: ShredSpec): String = {
    def sane(x: String): String = x.map(c =>
      if (c.isLetterOrDigit) c else '_')
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest((s.column + "|" + s.path + "|" + s.typeDdl.toLowerCase)
        .getBytes(StandardCharsets.UTF_8))
    val h = d.take(4).map(b => f"${b & 0xff}%02x").mkString
    s"_gshred_${sane(s.column)}_${sane(s.path.stripPrefix("$."))}_$h"
  }

  /** The shred-declaration validity rules, shared by [[createTable]]
    * and the CTAS seed path: column exists and is VARIANT, path is a
    * `$`-rooted extraction, type parses and canonicalizes into the
    * stats domain, hidden names are collision-free.
    */
  private def validateShred(schema: StructType, shred: Seq[ShredSpec],
                            stmt: String): Unit = {
    shred.foreach { s =>
      val f = schema.fields.find(_.name == s.column)
      require(f.isDefined, s"$stmt: shred column '${s.column}' is " +
        "not in the declared schema")
      require(f.get.dataType ==
          org.apache.spark.sql.types.VariantType,
        s"$stmt: shred column '${s.column}' must be VARIANT, got " +
          f.get.dataType.simpleString)
      require(s.path.startsWith("$"),
        s"$stmt: shred path '${s.path}' must start with '$$'")
      val dt = scala.util.Try(s.dataType).getOrElse(
        throw new IllegalArgumentException(
          s"$stmt: shred path '${s.path}' has an unparseable " +
            s"type '${s.typeDdl}'"))
      require(statsCanonType(dt),
        s"$stmt: shred path '${s.path}' type ${dt.simpleString} " +
          "cannot feed min/max stats — use an integral, floating, " +
          "string, date or timestamp_ntz type")
      // TIMESTAMP (with local time zone) is excluded from SHRED
      // eligibility even though ordinary column stats handle it fine:
      // JSON-ingested variants store timestamps as STRINGS, and the
      // write-time `try_variant_get(col, path, 'timestamp')`
      // materialization casts string→timestamp under the WRITER
      // session's zone. A reader in a different zone evaluates the
      // same extraction to a different instant than the recorded
      // min/max/Bloom values — the one shred case where pruning would
      // not be conservative (a file holding matching rows could be
      // skipped). TIMESTAMP_NTZ has no zone in either direction.
      require(dt != org.apache.spark.sql.types.TimestampType,
        s"$stmt: shred path '${s.path}' cannot use TIMESTAMP — the " +
          "string→timestamp extraction is session-timezone-dependent, " +
          "so recorded file stats could disagree with a reader in a " +
          "different zone and prune matching files. Use TIMESTAMP_NTZ")
    }
    require(shred.map(shredColName).distinct.size == shred.size,
      s"$stmt: duplicate shred declarations")
    shred.map(shredColName).foreach(n =>
      require(!schema.fieldNames.contains(n),
        s"$stmt: declared column '$n' collides with a shred " +
          "column's hidden physical name"))
  }

  /** Parse the catalog's `shred` TBLPROPERTY against a declared schema:
    * comma-separated entries `[<col>.]$.<path>:<type>` — the column
    * prefix may be omitted when the schema declares exactly ONE VARIANT
    * column. Validation (column exists and is VARIANT, type parses and
    * canonicalizes) happens in [[createTable]]; this only resolves the
    * grammar.
    */
  private[sources] def parseShredProperty(entries: Seq[String],
                                          schema: StructType)
      : Seq[ShredSpec] = entries.map { e0 =>
    val e = e0.trim
    val ci = e.lastIndexOf(':')
    require(ci > 0 && ci < e.length - 1,
      s"shred: bad entry '$e' — want [col.]$$.path:type")
    val (lhs, ty) = (e.substring(0, ci).trim, e.substring(ci + 1).trim)
    if (lhs.startsWith("$")) {
      val vcols = schema.fields.filter(_.dataType ==
        org.apache.spark.sql.types.VariantType)
      require(vcols.length == 1,
        s"shred: entry '$e' omits the column name but the schema " +
          s"declares ${vcols.length} VARIANT columns — qualify as " +
          "<col>.$.path:type")
      ShredSpec(vcols.head.name, lhs, ty)
    } else {
      val di = lhs.indexOf(".$")
      require(di > 0,
        s"shred: bad entry '$e' — want [col.]$$.path:type")
      ShredSpec(lhs.substring(0, di), lhs.substring(di + 1), ty)
    }
  }

  /** hidden-column name → declared extraction type, for the keep
    * functions' bound canonicalization (the table schema doesn't carry
    * these columns).
    */
  private[sources] def shredTypesOf(man: Manifest): Map[String, DataType] =
    man.shredCols.map(s => shredColName(s) -> s.dataType).toMap

  /** Materialize the hidden shred columns onto a frame about to be
    * written as epoch files (drop-then-recompute: a rewrite source that
    * read raw files may already carry them; recomputation is a pure
    * projection, so the clustered sort order and partitioning are
    * preserved). A spec whose variant column is absent from the frame
    * (partial-projection internal writes) is skipped — its stats are
    * simply not recorded for this epoch, which only disables pruning.
    */
  private def withShredCols(df: DataFrame, shred: Seq[ShredSpec])
      : DataFrame = {
    if (shred.isEmpty) return df
    val dropped = df.drop(shred.map(shredColName): _*)
    shred.foldLeft(dropped) { (d, s) =>
      if (d.columns.contains(s.column))
        d.withColumn(shredColName(s),
          org.apache.spark.sql.functions.try_variant_get(
            col(s.column), s.path, s.typeDdl))
      else d
    }
  }

  /** One column's table-level statistics record (see
    * [[Manifest.colStats]]): NDV is approximate (HyperLogLog++ at the
    * default 5% rsd — the CBO input every engine estimates), null count
    * and lengths exact at analyze time, min/max in the same canonical
    * string domain as the per-file stats ("" = not computable for the
    * type). All values describe the LIVE rows of `statsVersion`.
    */
  private[sources] case class ColStat(ndv: Long, nulls: Long,
                                      avgLen: Long, maxLen: Long,
                                      min: String = "", max: String = "")

  /** Fail a keyed operation whose key list disagrees with the recorded
    * one (see [[Manifest.keyCols]]). A legacy manifest with no recorded
    * keys accepts any list (and records it at the next commit).
    */
  private def validateKeys(man: Manifest, keys: Seq[String], op: String): Unit =
    require(man.keyCols.isEmpty || man.keyCols == keys,
      s"$op: supplied key columns ${keys.mkString("(", ",", ")")} do not " +
        s"match the table's recorded merge keys " +
        s"${man.keyCols.mkString("(", ",", ")")} (order matters: the " +
        "key hash is order-sensitive, so a reordered list re-bins rows " +
        "under a hash future merges will not compute)")

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def manifestFiles(fs: FileSystem, dir: Path,
                            prefix: String = ManifestPrefix): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) &&
        p.getName.endsWith(".json"))
      // a stray non-numeric manifest-like name (someone's _manifest-backup
      // .json) must not take every read and merge of the table down with a
      // NumberFormatException — skip it, it is not part of the protocol
      .flatMap { p =>
        scala.util.Try(p.getName.stripPrefix(prefix)
          .stripSuffix(".json").toLong).toOption.map(v => (v, p))
      }
      .sortBy(_._1)

  private def readJsonFile(
      fs: FileSystem, p: Path): com.fasterxml.jackson.databind.JsonNode = {
    val in = fs.open(p)
    val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new String(bytes, StandardCharsets.UTF_8))
  }

  // ---- per-bucket fragment parsers (shared by the inline manifest and
  // ---- the `_seg/` segment files of a segmented manifest) ------------

  private def parseEpochsNode(
      n: com.fasterxml.jackson.databind.JsonNode): Map[Int, String] = {
    val epochs = scala.collection.mutable.Map.empty[Int, String]
    Option(n).foreach(_.fields().forEachRemaining { e =>
      epochs(e.getKey.toInt) = e.getValue.asText()
    })
    epochs.toMap
  }

  private def parseStatsNode(
      n: com.fasterxml.jackson.databind.JsonNode): Map[Int, Seq[FileStat]] = {
    def strMap(x: com.fasterxml.jackson.databind.JsonNode)
        : Map[String, String] = {
      val m = scala.collection.mutable.Map.empty[String, String]
      Option(x).foreach(_.fields().forEachRemaining(e =>
        m(e.getKey) = e.getValue.asText()))
      m.toMap
    }
    val stats = scala.collection.mutable.Map.empty[Int, Seq[FileStat]]
    Option(n).foreach(_.fields().forEachRemaining { b =>
      val arr = b.getValue
      stats(b.getKey.toInt) = (0 until arr.size()).map { i =>
        val f = arr.get(i)
        val nulls = scala.collection.mutable.Map.empty[String, Long]
        // absent in pre-nullcount manifests — backward compatible
        Option(f.get("nulls")).foreach(_.fields().forEachRemaining(e =>
          nulls(e.getKey) = e.getValue.asLong()))
        FileStat(f.get("f").asText(), f.get("b").asLong(), f.get("r").asLong(),
          strMap(f.get("min")), strMap(f.get("max")), nulls.toMap,
          // absent in pre-fingerprint manifests — backward compatible
          Option(f.get("h")).map(_.asText()).getOrElse(""),
          // absent in pre-deletion-vector manifests — backward compatible
          Option(f.get("dv")).map(_.asText()).getOrElse(""),
          Option(f.get("dvn")).map(_.asLong()).getOrElse(0L),
          // absent for base-epoch files — backward compatible
          Option(f.get("e")).map(_.asText()).getOrElse(""))
      }
    })
    stats.toMap
  }

  private def parseOvlNode(
      n: com.fasterxml.jackson.databind.JsonNode): Map[Int, Seq[String]] =
    Option(n).map { x =>
      val b = Map.newBuilder[Int, Seq[String]]
      x.fields().forEachRemaining { e =>
        val arr = e.getValue
        b += e.getKey.toInt ->
          (0 until arr.size()).map(arr.get(_).asText())
      }
      b.result()
    }.getOrElse(Map.empty)

  private def parseEqdsNode(
      n: com.fasterxml.jackson.databind.JsonNode): Map[Int, Seq[EqDel]] =
    Option(n).map { x =>
      val b = Map.newBuilder[Int, Seq[EqDel]]
      x.fields().forEachRemaining { e =>
        val arr = e.getValue
        b += e.getKey.toInt -> (0 until arr.size()).map { i =>
          val d = arr.get(i)
          EqDel(d.get("s").asText(), d.get("u").asInt(),
            d.get("n").asLong())
        }
      }
      b.result()
    }.getOrElse(Map.empty)

  private def manifestFromNode(node: com.fasterxml.jackson.databind.JsonNode,
                               version: Long): Manifest = {
    val epochs = parseEpochsNode(node.get("epochs"))
    val txns = scala.collection.mutable.Map.empty[String, Long]
    // absent in pre-txn manifests — backward compatible
    Option(node.get("txns")).foreach(_.fields().forEachRemaining { t =>
      txns(t.getKey) = t.getValue.asLong()
    })
    // absent in pre-schema manifests — backward compatible
    val schema = Option(node.get("schema")).map(_.asText())
    // absent in pre-keyCols manifests — backward compatible
    def strArr(field: String): Seq[String] =
      Option(node.get(field)).map { arr =>
        (0 until arr.size()).map(arr.get(_).asText())
      }.getOrElse(Seq.empty)
    def strMap(n: com.fasterxml.jackson.databind.JsonNode): Map[String, String] = {
      val m = scala.collection.mutable.Map.empty[String, String]
      Option(n).foreach(_.fields().forEachRemaining(e =>
        m(e.getKey) = e.getValue.asText()))
      m.toMap
    }
    // absent in pre-stats manifests — backward compatible
    val stats = parseStatsNode(node.get("stats"))
    Manifest(version, node.get("buckets").asInt(), epochs, txns.toMap,
      schema, strArr("keys"), strArr("cluster"), stats,
      // absent in pre-bloom manifests — backward compatible
      strArr("bloomcols"),
      Option(node.get("bloomn")).map(_.asLong()).getOrElse(DefaultBloomItems),
      // absent in pre-commitInfo manifests — backward compatible
      Option(node.get("op")).map(_.asText()).getOrElse(""),
      Option(node.get("ts")).map(_.asLong()).getOrElse(0L),
      // absent in pre-retention manifests — backward compatible
      Option(node.get("retainv")).map(_.asInt()).getOrElse(KeepManifests),
      Option(node.get("retainms")).map(_.asLong()).getOrElse(0L),
      // absent in pre-fingerprint manifests — backward compatible
      Option(node.get("fpr")).exists(_.asBoolean()),
      // absent in pre-enforcement manifests — those epochs carry no
      // NULL-key proof, so the flag correctly reads false
      Option(node.get("kchk")).exists(_.asBoolean()),
      // absent in pre-field-id manifests — those tables stay name-world
      Option(node.get("cids")).map { n =>
        val b = Map.newBuilder[String, Long]
        n.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asLong())
        b.result()
      }.getOrElse(Map.empty),
      Option(node.get("ncid")).map(_.asLong()).getOrElse(0L),
      // absent in pre-deletion-vector manifests — backward compatible
      Option(node.get("dvs")).exists(_.asBoolean()),
      // absent in pre-ANALYZE manifests — backward compatible
      Option(node.get("cstats")).map { n =>
        val b = Map.newBuilder[String, ColStat]
        n.fields().forEachRemaining { e =>
          val v = e.getValue
          b += e.getKey -> ColStat(v.get("ndv").asLong(),
            v.get("nulls").asLong(), v.get("avg").asLong(),
            v.get("maxl").asLong(),
            Option(v.get("min")).map(_.asText()).getOrElse(""),
            Option(v.get("max")).map(_.asText()).getOrElse(""))
        }
        b.result()
      }.getOrElse(Map.empty),
      Option(node.get("cstatsv")).map(_.asLong()).getOrElse(0L),
      Option(node.get("cstatsr")).map(_.asLong()).getOrElse(0L),
      // absent in pre-tag manifests — backward compatible
      Option(node.get("tags")).map { n =>
        val b = Map.newBuilder[String, Long]
        n.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asLong())
        b.result()
      }.getOrElse(Map.empty),
      // absent in pre-overlay manifests — backward compatible
      parseOvlNode(node.get("ovl")),
      // set only on branch-staged manifests — backward compatible
      Option(node.get("bbase")).map(_.asLong()).getOrElse(-1L),
      // absent in pre-constraint manifests — backward compatible
      strMap(node.get("checks")),
      // absent in pre-sketch manifests — backward compatible
      strMap(node.get("csk")),
      // absent in pre-identity manifests — backward compatible
      Option(node.get("idhw")).map { n =>
        val b = Map.newBuilder[String, Long]
        n.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asLong())
        b.result()
      }.getOrElse(Map.empty),
      // absent in pre-histogram manifests — backward compatible
      strMap(node.get("chist")),
      // absent in pre-equality-delete manifests — backward compatible
      parseEqdsNode(node.get("eqds")),
      Option(node.get("eqdel")).exists(_.asBoolean()))
      // absent in pre-shred manifests — backward compatible
      .copy(shredCols = Option(node.get("shred")).map { arr =>
        (0 until arr.size()).map { i =>
          val e = arr.get(i)
          ShredSpec(e.get("c").asText(), e.get("p").asText(),
            e.get("t").asText())
        }
      }.getOrElse(Seq.empty))
  }

  /** Parsed-manifest cache. A manifest file is WRITE-ONCE (commit
    * publishes via link/rename with no-overwrite semantics, and nothing
    * ever rewrites a published `_manifest-N.json` in place), so its
    * path + (mtime, len) identity is stable; the stat probe both
    * validates the entry and preserves "deleted version fails loudly"
    * (a gc'd manifest stats as missing, never serves from cache).
    * Every commit runs gc + auto-split/compact probes, each of which
    * re-read manifests — without the cache one commit parses O(retained
    * versions) stats-heavy JSONs, an O(commits²) driver tax per table.
    */
  private val manifestCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Long, Long, Manifest)](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, Long, Manifest)]): Boolean =
        size() > 512
    })

  private def readManifest(fs: FileSystem, version: Long, p: Path): Manifest = {
    val st = fs.getFileStatus(p)
    val key = p.toString
    val hit = manifestCache.get(key)
    if (hit != null && hit._1 == st.getModificationTime &&
        hit._2 == st.getLen && hit._3.version == version)
      return hit._3
    val m = readManifestUncached(fs, version, p)
    manifestCache.put(key, (st.getModificationTime, st.getLen, m))
    m
  }

  private def readManifestUncached(fs: FileSystem, version: Long,
                                   p: Path): Manifest = {
    val node = readJsonFile(fs, p)
    val base = manifestFromNode(node, version)
    Option(node.get("segs")) match {
      case None => base
      case Some(arr) =>
        // segmented head: per-bucket state lives in content-addressed
        // `_seg/` files — fetch only what the process cache lacks
        val dir = p.getParent
        val hashes = (0 until arr.size()).map(arr.get(_).asText())
        val pays = hashes.map(h => loadSegment(fs, dir, h))
        base.copy(
          epochs = pays.iterator.map(_.epochs).fold(Map.empty)(_ ++ _),
          stats = pays.iterator.map(_.stats).fold(Map.empty)(_ ++ _),
          overlays = pays.iterator.map(_.ovl).fold(Map.empty)(_ ++ _),
          eqds = pays.iterator.map(_.eqds).fold(Map.empty)(_ ++ _),
          segs = hashes)
    }
  }

  private def currentManifest(fs: FileSystem, dir: Path): Option[Manifest] =
    manifestFiles(fs, dir).lastOption.map { case (v, p) => readManifest(fs, v, p) }

  /** Cheap "is this directory a committed graft table?" probe — one
    * listing, no manifest parse (the catalog's table-vs-namespace test).
    */
  private[sources] def hasManifest(fs: FileSystem, dir: Path): Boolean =
    manifestFiles(fs, dir).nonEmpty

  /** Atomic commit: stage the manifest JSON under a dot-file (invisible to
    * readers), then publish it with an atomic no-overwrite primitive — on
    * a local filesystem a POSIX hard link (`link(2)` refuses an existing
    * target, unlike `rename(2)`, which silently replaces it), on HDFS-like
    * stores the rename, whose contract refuses overwrite. Either way a
    * racing or replayed committer targeting the same version fails loudly
    * instead of clobbering a committed manifest.
    */
  // ---- per-bucket fragment serializers (shared by the inline manifest
  // ---- and the `_seg/` segment files of a segmented manifest) --------

  private def epochsJsonObj(epochs: Map[Int, String]): String =
    epochs.toSeq.sortBy(_._1)
      .map { case (b, e) => "\"" + b + "\":\"" + e + "\"" }
      .mkString("{", ",", "}")

  private def statsJsonObj(stats: Map[Int, Seq[FileStat]]): String = {
    def obj(kv: Map[String, String]): String =
      kv.toSeq.sortBy(_._1).map { case (k, v) =>
        jsonStr(k) + ":" + jsonStr(v) }.mkString("{", ",", "}")
    stats.toSeq.sortBy(_._1).map { case (b, fss) =>
      "\"" + b + "\":[" + fss.map(fs =>
        "{\"f\":" + jsonStr(fs.name) + ",\"b\":" + fs.bytes +
          ",\"r\":" + fs.rows + ",\"min\":" + obj(fs.mins) +
          ",\"max\":" + obj(fs.maxs) +
          (if (fs.nulls.isEmpty) "" else
            ",\"nulls\":" + fs.nulls.toSeq.sortBy(_._1)
              .map { case (k, v) => jsonStr(k) + ":" + v }
              .mkString("{", ",", "}")) +
          (if (fs.fp.isEmpty) "" else ",\"h\":" + jsonStr(fs.fp)) +
          (if (fs.dv.isEmpty) "" else
            ",\"dv\":" + jsonStr(fs.dv) + ",\"dvn\":" + fs.dvn) +
          (if (fs.e.isEmpty) "" else ",\"e\":" + jsonStr(fs.e)) +
          "}").mkString(",") + "]"
    }.mkString("{", ",", "}")
  }

  private def ovlJsonObj(ovl: Map[Int, Seq[String]]): String =
    ovl.toSeq.sortBy(_._1).map { case (b, es) =>
      "\"" + b + "\":[" + es.map(jsonStr).mkString(",") + "]"
    }.mkString("{", ",", "}")

  private def eqdsJsonObj(eqds: Map[Int, Seq[EqDel]]): String =
    eqds.toSeq.filter(_._2.nonEmpty).sortBy(_._1)
      .map { case (b, ds) =>
        "\"" + b + "\":[" + ds.map(d =>
          "{\"s\":" + jsonStr(d.sidecar) + ",\"u\":" + d.upTo +
            ",\"n\":" + d.n + "}").mkString(",") + "]"
      }.mkString("{", ",", "}")

  private def manifestBody(m: Manifest): String =
    new StringBuilder()
      .append("{\"buckets\":").append(m.buckets).append(",\"epochs\":")
      .append(epochsJsonObj(m.epochs))
      .append(",\"txns\":{")
      // app ids are writer-chosen: escape them like any JSON string
      .append(m.txns.toSeq.sortBy(_._1).map { case (a, v) =>
        jsonStr(a) + ":" + v
      }.mkString(","))
      .append("}")
      .append(m.schema.map(s => ",\"schema\":" + jsonStr(s)).getOrElse(""))
      .append(if (m.keyCols.nonEmpty)
        ",\"keys\":[" + m.keyCols.map(jsonStr).mkString(",") + "]" else "")
      .append(if (m.clusterCols.nonEmpty)
        ",\"cluster\":[" + m.clusterCols.map(jsonStr).mkString(",") + "]"
        else "")
      .append(if (m.bloomCols.nonEmpty)
        ",\"bloomcols\":[" + m.bloomCols.map(jsonStr).mkString(",") + "]" +
          ",\"bloomn\":" + m.bloomItems
        else "")
      .append(if (m.op.nonEmpty)
        ",\"op\":" + jsonStr(m.op) + ",\"ts\":" + m.opTs else "")
      .append(if (m.retainVersions != KeepManifests)
        ",\"retainv\":" + m.retainVersions else "")
      .append(if (m.retainMs != 0L) ",\"retainms\":" + m.retainMs else "")
      .append(if (m.fingerprint) ",\"fpr\":true" else "")
      .append(if (m.keysChecked) ",\"kchk\":true" else "")
      .append(if (m.deleteVectors) ",\"dvs\":true" else "")
      .append(if (m.colStats.isEmpty) "" else
        ",\"cstats\":{" + m.colStats.toSeq.sortBy(_._1).map { case (c, s) =>
          jsonStr(c) + ":{\"ndv\":" + s.ndv + ",\"nulls\":" + s.nulls +
            ",\"avg\":" + s.avgLen + ",\"maxl\":" + s.maxLen +
            (if (s.min.isEmpty) "" else ",\"min\":" + jsonStr(s.min)) +
            (if (s.max.isEmpty) "" else ",\"max\":" + jsonStr(s.max)) + "}"
        }.mkString(",") + "}" +
          ",\"cstatsv\":" + m.statsVersion +
          ",\"cstatsr\":" + m.statsRows)
      .append(if (m.tags.isEmpty) "" else
        ",\"tags\":{" + m.tags.toSeq.sortBy(_._1).map { case (t, v) =>
          jsonStr(t) + ":" + v }.mkString(",") + "}")
      .append(if (m.overlays.isEmpty) "" else
        ",\"ovl\":" + ovlJsonObj(m.overlays))
      .append(if (m.colIds.nonEmpty)
        ",\"cids\":{" + m.colIds.toSeq.sortBy(_._1).map { case (c, id) =>
          jsonStr(c) + ":" + id }.mkString(",") + "}" +
          ",\"ncid\":" + m.nextColId
        else "")
      .append(if (m.stats.nonEmpty) ",\"stats\":" + statsJsonObj(m.stats)
        else "")
      .append(if (m.branchBase < 0L) "" else ",\"bbase\":" + m.branchBase)
      .append(if (m.checks.isEmpty) "" else
        ",\"checks\":{" + m.checks.toSeq.sortBy(_._1).map { case (n, p) =>
          jsonStr(n) + ":" + jsonStr(p) }.mkString(",") + "}")
      .append(if (m.colSketches.isEmpty) "" else
        ",\"csk\":{" + m.colSketches.toSeq.sortBy(_._1).map { case (c, s) =>
          jsonStr(c) + ":" + jsonStr(s) }.mkString(",") + "}")
      .append(if (m.idhw.isEmpty) "" else
        ",\"idhw\":{" + m.idhw.toSeq.sortBy(_._1).map { case (c, v) =>
          jsonStr(c) + ":" + v }.mkString(",") + "}")
      .append(if (m.colHists.isEmpty) "" else
        ",\"chist\":{" + m.colHists.toSeq.sortBy(_._1).map { case (c, h) =>
          jsonStr(c) + ":" + jsonStr(h) }.mkString(",") + "}")
      .append(if (m.eqds.forall(_._2.isEmpty)) "" else
        ",\"eqds\":" + eqdsJsonObj(m.eqds))
      .append(if (m.eqDeletes) ",\"eqdel\":true" else "")
      .append(if (m.shredCols.isEmpty) "" else
        ",\"shred\":[" + m.shredCols.map(s =>
          "{\"c\":" + jsonStr(s.column) + ",\"p\":" + jsonStr(s.path) +
            ",\"t\":" + jsonStr(s.typeDdl) + "}").mkString(",") + "]")
      .append("}").toString()

  // ==== MANIFEST SEGMENTATION =============================================
  //
  // The full-snapshot manifest carries every bucket's epoch pointer, file
  // stats, overlay list and eq-delete records — O(buckets) bytes. Below
  // [[SegInlineMaxBuckets]] that is a few KB and ONE file per commit is
  // the right design. Past it, a 10-row trickle commit would rewrite (and
  // every reader re-parse) metadata proportional to the TABLE, not the
  // change — the one structural scale-killer at 10⁵–10⁶ buckets. So a
  // large table's manifest splits the Iceberg way: the `_manifest-<v>`
  // HEAD keeps the table-level fields plus an ordered list of per-bucket-
  // range SEGMENT hashes (`segw`/`segs`), and the per-bucket state lives
  // in content-addressed `_seg/seg-<sha256/128>.json` files. A commit
  // serializes and writes ONLY the ranges whose state changed — an
  // unchanged range's hash is reused straight from the base manifest
  // (granted by payload equality against the process-wide segment cache,
  // never by lineage alone) — so commit metadata I/O is
  // O(head + touched ranges), and reads fetch only segments they have
  // not already cached (segments are immutable: cache hits are exact).
  // Crash-safety: segments are published BEFORE the head that references
  // them through the same no-overwrite primitive (identical content ⇒ a
  // lost race is a win), a crashed commit leaves orphan segments for
  // gc's age guard, and gc keeps every segment referenced by a retained
  // head (main, branch, or tagged). See PROTOCOL.md "Manifest
  // segmentation".

  /** Largest bucket modulus that keeps the single-file inline manifest.
    * Above it, commits write segmented manifests. Readers accept both
    * formats regardless (the head self-describes via `segs`).
    */
  private[sources] val SegInlineMaxBuckets = 64

  /** Bucket-range width of one segment: fixed 64 while the segment
    * count stays small, widening past 4096×64 buckets so the head's
    * hash list stays bounded (≤ ~4096 hashes ≈ 140 KB) at any modulus.
    */
  private[sources] def segWidth(buckets: Int): Int =
    math.max(SegInlineMaxBuckets, (buckets + 4095) / 4096)

  private[sources] val SegDirName = "_seg"

  /** One segment's per-bucket state — exactly the four Manifest maps,
    * restricted to the segment's bucket range (eqds canonicalized to
    * non-empty entries, matching the inline serializer).
    */
  private case class SegPayload(epochs: Map[Int, String],
                                stats: Map[Int, Seq[FileStat]],
                                ovl: Map[Int, Seq[String]],
                                eqds: Map[Int, Seq[EqDel]])

  /** Process-wide segment cache, keyed by (table dir, content hash).
    * Segments are immutable (content-addressed), so entries never go
    * stale; the LRU bound caps driver memory on wide scans of many
    * tables.
    */
  private val segCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, SegPayload](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, SegPayload]): Boolean =
        size() > 16384
    })

  private def segBody(p: SegPayload): String = {
    val sb = new StringBuilder("{\"epochs\":")
    sb.append(epochsJsonObj(p.epochs))
    if (p.stats.nonEmpty) sb.append(",\"stats\":").append(statsJsonObj(p.stats))
    if (p.ovl.nonEmpty) sb.append(",\"ovl\":").append(ovlJsonObj(p.ovl))
    if (p.eqds.nonEmpty) sb.append(",\"eqds\":").append(eqdsJsonObj(p.eqds))
    sb.append("}").toString()
  }

  private def parseSegBody(
      node: com.fasterxml.jackson.databind.JsonNode): SegPayload =
    SegPayload(parseEpochsNode(node.get("epochs")),
      parseStatsNode(node.get("stats")),
      parseOvlNode(node.get("ovl")),
      parseEqdsNode(node.get("eqds")))

  /** 128-bit content hash (SHA-256 truncated): the segment's identity.
    * Collision probability at any real segment count is negligible, and
    * a collision would require two DIFFERENT payloads of the same table
    * — the hash is scoped per table directory.
    */
  private def segHash(body: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(body.getBytes(StandardCharsets.UTF_8))
    d.take(16).map(b => f"${b & 0xff}%02x").mkString
  }

  private def segPath(dir: Path, hash: String): Path =
    new Path(new Path(dir, SegDirName), s"seg-$hash.json")

  /** Publish one segment if absent. Content-addressed: a concurrent
    * writer losing the no-overwrite race published the SAME bytes, so a
    * lost CAS is success. A crash mid-publish leaves a `.tmp-seg-`
    * stage file for gc's age guard.
    */
  private def writeSegmentIfAbsent(fs: FileSystem, dir: Path, hash: String,
                                   body: String): Unit = {
    val target = segPath(dir, hash)
    if (fs.exists(target)) return
    val segDir = new Path(dir, SegDirName)
    fs.mkdirs(segDir)
    val tmp = new Path(segDir, s".tmp-seg-${UUID.randomUUID()}")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    commitPrimitive.putIfAbsent(fs, target, tmp, bytes)
    fs.delete(tmp, false)
  }

  private def loadSegment(fs: FileSystem, dir: Path,
                          hash: String): SegPayload = {
    val key = dir.toString + "|" + hash
    val hit = segCache.get(key)
    if (hit != null) return hit
    val p = segPath(dir, hash)
    val pay = parseSegBody(readJsonFile(fs, p))
    segCache.put(key, pay)
    pay
  }

  /** Split a per-bucket map into per-segment-range maps (one O(n) pass,
    * not O(n × ranges)).
    */
  private def byRange[V](m: Map[Int, V], w: Int): Map[Int, Map[Int, V]] =
    m.groupBy(_._1 / w)

  /** The segmented commit: per-range payloads, reuse-by-equality against
    * the base manifest's hashes (carried on [[Manifest.segs]] as hints),
    * segment publishes for the changed ranges only, then the head CAS.
    */
  private def segmentedPublish(fs: FileSystem, dir: Path, target: Path,
                               m: Manifest): Unit = {
    val w = segWidth(m.buckets)
    val nSeg = math.max(1, (m.buckets + w - 1) / w)
    val epochsR = byRange(m.epochs, w)
    val statsR = byRange(m.stats, w)
    val ovlR = byRange(m.overlays, w)
    val eqdsR = byRange(m.eqds.filter(_._2.nonEmpty), w)
    val dirKey = dir.toString
    // the base manifest's hashes are valid HINTS only if its width
    // matches (a modulus change shifts every range)
    val hints: Map[Int, String] =
      if (m.segs.size == nSeg) m.segs.zipWithIndex.map(_.swap).toMap
      else Map.empty
    val hashes = (0 until nSeg).map { i =>
      val pay = SegPayload(epochsR.getOrElse(i, Map.empty),
        statsR.getOrElse(i, Map.empty), ovlR.getOrElse(i, Map.empty),
        eqdsR.getOrElse(i, Map.empty))
      val reuse = hints.get(i).filter { h =>
        segCache.get(dirKey + "|" + h) == pay
      }
      reuse.getOrElse {
        val body = segBody(pay)
        val h = segHash(body)
        writeSegmentIfAbsent(fs, dir, h, body)
        segCache.put(dirKey + "|" + h, pay)
        h
      }
    }
    val head = manifestBody(m.copy(epochs = Map.empty, stats = Map.empty,
      overlays = Map.empty, eqds = Map.empty, segs = Seq.empty))
    val body = head.dropRight(1) + ",\"segw\":" + w + ",\"segs\":[" +
      hashes.map(jsonStr).mkString(",") + "]}"
    publishAtomically(fs, dir, target, body)
  }

  /** The one manifest-publish seam: inline below the bucket threshold,
    * segmented above it.
    */
  private def publishManifest(fs: FileSystem, dir: Path, target: Path,
                              m: Manifest): Unit =
    if (m.buckets > SegInlineMaxBuckets)
      segmentedPublish(fs, dir, target, m)
    else publishAtomically(fs, dir, target, manifestBody(m))

  private def commitManifest(fs: FileSystem, dir: Path, m: Manifest): Unit =
    publishManifest(fs, dir,
      new Path(dir, f"$ManifestPrefix${m.version}%016d.json"), m)

  /** [[commitManifest]] / [[currentManifest]] redirected by an optional
    * branch ref — the ONE seam branch-targeted writes differ by: same
    * epoch staging, same rebase loop, different manifest lineage.
    */
  private def refCommit(fs: FileSystem, dir: Path, ref: Option[String],
                        m: Manifest): Unit = ref match {
    case None => commitManifest(fs, dir, m)
    case Some(b) => publishManifest(fs, dir,
      new Path(dir, f"${branchManPrefix(b)}${m.version}%016d.json"), m)
  }

  private def refCurrent(fs: FileSystem, dir: Path,
                         ref: Option[String]): Option[Manifest] = ref match {
    case None => currentManifest(fs, dir)
    case Some(b) => branchHead(fs, dir, b)
  }

  private def refManifestFiles(fs: FileSystem, dir: Path,
                               ref: Option[String]): Seq[(Long, Path)] =
    ref match {
      case None => manifestFiles(fs, dir)
      case Some(b) => manifestFiles(fs, dir, branchManPrefix(b))
    }

  /** Bucket id of a row's key tuple — PLUS the write-side enforcement
    * of the keyed invariant that no key column is NULL (the catalog
    * surfaces keys as NOT NULL; a stored NULL key would let Catalyst's
    * null propagation return wrong results over it). `AssertNotNull`
    * rides the existing write pass as a codegen'd per-row check — no
    * extra job — so a NULL key fails the statement BEFORE anything
    * commits. Read/probe/delete-key paths deliberately do not assert: a
    * NULL probe key simply matches nothing.
    */
  private def bucketExprChecked(keys: Seq[String], nb: Int)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftColumnShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
    val checked = keys.map(k => column(AssertNotNull(expression(col(k)),
      Seq(s"merge key '$k' — keyed tables hold no NULL keys; filter or " +
        "coalesce the source"))))
    pmod(hash(checked: _*), lit(nb))
  }

  /** One SQL statement (or one changeset) may not carry two rows for a
    * key — the invariant every point read, row-level update, and change
    * feed relies on. Postgres raises exactly this for its upsert ("ON
    * CONFLICT DO UPDATE command cannot affect row a second time", the
    * reference's write path). Cost: ONE aggregate over the key columns
    * only — column pruning keeps the pass key-narrow, strictly cheaper
    * than the write it guards. ACROSS statements, upsert-by-key applies
    * as ever.
    */
  private[sources] def requireUniqueKeys(data: DataFrame, keys: Seq[String],
                                         stmt: String): Unit = {
    val dup = data.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__graft_n"))
      .filter(col("__graft_n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"$stmt: the statement carries more than one row for key " +
        s"${keys.zipWithIndex.map { case (k, i) => s"$k=${dup.head.get(i)}" }
          .mkString("(", ", ", ")")} — keyed tables hold one row per " +
        "key (Postgres: 'cannot affect row a second time'); " +
        "deduplicate the source and re-run")
  }

  /** Commit for maintenance operations (compact, splitBuckets,
    * truncateHistory) whose staged state was derived from ONE observed
    * version: losing the version CAS to a concurrent merge means the
    * derivation is stale, so surface the protocol's documented
    * `ConcurrentModificationException` ("re-run against the new table
    * state") instead of [[publishAtomically]]'s raw IOException — safe
    * either way, but callers catch the protocol exception.
    */
  private def commitOrConflict(fs: FileSystem, dir: Path, m: Manifest,
                               op: String): Unit =
    try commitManifest(fs, dir,
      m.copy(op = op, opTs = System.currentTimeMillis()))
    catch {
      case e: java.io.IOException =>
        throw new java.util.ConcurrentModificationException(
          s"$op: lost the version-${m.version} commit race to a concurrent " +
            s"writer of $dir — re-run against the new table state", e)
    }

  /** The metadata-commit rule (PROTOCOL.md "Optimistic concurrency"):
    * each attempt re-reads the head and hands it to `next` (`None` = no
    * committed table), so the operation's validation re-runs against
    * whatever a concurrent writer committed. `next` returning `None`
    * means nothing to do; `Some(m)` commits `m` as the head's successor
    * with `op`/`opTs` stamped. Only a lost CAS retries — at most 6
    * attempts, then `ConcurrentModificationException` naming `op`. gc
    * runs once, after the winning commit and outside the retry, so a gc
    * failure never re-runs a commit that already landed.
    */
  private def commitMetadata(fs: FileSystem, dir: Path, op: String)(
      next: Option[Manifest] => Option[Manifest]): Unit = {
    var attempt = 0
    while (attempt < 6) {
      attempt += 1
      val head = currentManifest(fs, dir)
      (head, next(head)) match {
        case (Some(cur), Some(m)) =>
          val won =
            try {
              commitManifest(fs, dir, m.copy(version = cur.version + 1,
                op = op, opTs = System.currentTimeMillis()))
              true
            } catch { case _: java.io.IOException => false } // lost CAS
          if (won) { gc(fs, dir); return }
        case _ => return
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"$op: lost the commit race to concurrent writers of $dir on " +
        "every retry — re-run against the new table state")
  }

  /** Metadata-only commit recording a streaming txn guard on an empty
    * batch. Unlike a data commit — whose staged epoch becomes stale on a
    * lost CAS — the guard derives from nothing, so losing the race to a
    * concurrent writer is retriable: re-read the manifest (which may
    * already carry an equal-or-newer guard from a concurrent replay, in
    * which case stop) and re-publish on top of it. Stamps `op`/`opTs` so
    * tableHistory shows the guard commit, not a duplicate of the prior
    * operation.
    */
  private def commitTxnGuard(fs: FileSystem, dir: Path,
                             t: (String, Long),
                             ref: Option[String] = None): Unit = {
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      refCurrent(fs, dir, ref) match {
        case None => return // table vanished — nothing to guard
        case Some(man) =>
          if (man.txns.get(t._1).exists(_ >= t._2)) return
          try {
            refCommit(fs, dir, ref, man.copy(version = man.version + 1,
              txns = man.txns + t, op = "txn",
              opTs = System.currentTimeMillis()))
            return
          } catch { case _: java.io.IOException => () } // lost CAS — rebase
      }
    }
    throw new java.io.IOException(
      s"txn: could not record streaming txn guard $t on $dir after " +
        s"$attempts attempts (persistent commit contention)")
  }

  /** Record an exactly-once txn anchor WITHOUT data (a consumer that
    * proved its window contributes nothing must still advance, or it
    * re-diffs the same window forever — the MV refresh's empty-delta
    * case). Same ledger, same replay rule as the data-carrying commits.
    */
  private[sources] def recordTxn(spark: SparkSession, tablePath: String,
                                 t: (String, Long)): Unit =
    commitTxnGuard(fsFor(spark, tablePath), new Path(tablePath), t)

  /** THE commit primitive (Delta's pluggable LogStore, scaled to this
    * protocol): every manifest publish — table and group — funnels
    * through one `putIfAbsent` whose contract is the protocol's entire
    * atomicity story: *atomically create `target` with `body` iff no
    * file exists there; under concurrent callers at most one returns
    * true*. The built-in [[LinkOrRenameCommit]] honors it on POSIX
    * filesystems (hard link — `link(2)` refuses an existing target) and
    * on HDFS-class stores (no-overwrite `rename`, atomic by contract).
    * **S3-class object stores honor NEITHER**: `rename` is copy+delete
    * and `exists`+`rename` is a race window — deploying there requires
    * plugging a conditional-PUT implementation (`If-None-Match: *`, GCS
    * `x-goog-if-generation-match: 0`, DynamoDB-arbitrated like Delta's
    * S3DynamoDBLogStore) via [[setCommitPrimitive]], configured once at
    * startup. See PROTOCOL.md "Commit".
    */
  trait CommitPrimitive {

    /** Atomically publish `body` at `target` iff absent; true = this
      * call created it, false = lost (a committed file already exists).
      * `stage` is a pre-written staging file holding `body` inside the
      * table directory (implementations may rename it or ignore it and
      * upload `body` directly); the CALLER deletes it afterwards either
      * way, so implementations must not leave `target` referencing it.
      */
    def putIfAbsent(fs: FileSystem, target: Path, stage: Path,
                    body: Array[Byte]): Boolean
  }

  /** Default primitive: POSIX hard-link CAS on `file:` roots,
    * no-overwrite rename elsewhere (atomic on HDFS-class filesystems —
    * NOT on S3-class stores; see [[CommitPrimitive]]).
    */
  object LinkOrRenameCommit extends CommitPrimitive {
    override def putIfAbsent(fs: FileSystem, target: Path, stage: Path,
                             body: Array[Byte]): Boolean = {
      val localRoot = Option(fs.getUri).forall(_.getScheme == "file")
      if (localRoot) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(stage.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else !fs.exists(target) && fs.rename(stage, target)
    }
  }

  @volatile private var commitPrimitive: CommitPrimitive = LinkOrRenameCommit

  /** Install the commit primitive (process-wide, set once at startup —
    * mid-flight swaps see no ordering guarantee). Object-store
    * deployments MUST install a conditional-PUT implementation; the
    * default is only atomic on POSIX/HDFS semantics.
    */
  def setCommitPrimitive(p: CommitPrimitive): Unit = commitPrimitive = p

  private[graft] def currentCommitPrimitive: CommitPrimitive =
    commitPrimitive

  /** The atomic no-overwrite publish shared by table and group commits:
    * stage the body under a dot-file (invisible to readers — the
    * manifest listing filters on prefix), then publish through the
    * installed [[CommitPrimitive]]. Loss surfaces as the protocol's
    * commit-failed IOException, which every caller maps to rebase /
    * retry / `ConcurrentModificationException` per its own contract.
    */
  private def publishAtomically(fs: FileSystem, dir: Path, target: Path,
                                body: String): Unit = {
    val tmp = new Path(dir, s".tmp-manifest-${UUID.randomUUID()}")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    val out = fs.create(tmp, false)
    try out.write(bytes) finally out.close()
    val won = commitPrimitive.putIfAbsent(fs, target, tmp, bytes)
    // the stage file may already be gone (a rename-based primitive
    // consumed it on the win path) — delete is a no-op then
    fs.delete(tmp, false)
    if (!won)
      throw new java.io.IOException(
        s"merge: manifest commit $target failed (concurrent writer?)")
  }

  /** How long an UNREFERENCED epoch directory survives gc. A concurrent
    * writer's staged-but-not-yet-committed epoch is indistinguishable
    * from a crashed writer's orphan; the age guard keeps a racing
    * commit's files alive through its rebase-and-retry window (the same
    * orphan-retention idea as Delta's vacuum / Iceberg's
    * remove_orphan_files, scaled down). Genuinely dead orphans are
    * reclaimed by any merge that runs after the window.
    */
  val OrphanRetentionMs: Long = 10L * 60 * 1000

  /** Post-commit garbage collection: keep the last [[KeepManifests]]
    * manifests and every epoch they reference; delete older manifests,
    * unreferenced epochs older than `orphanRetentionMs` (see
    * [[OrphanRetentionMs]] — a young unreferenced epoch may be a
    * concurrent writer mid-commit), stale staging files, and any
    * root-level pre-manifest leftovers (a manifest existing means
    * migration committed — the legacy files are dead weight even if the
    * migrating process crashed before its own cleanup). Crash-safe —
    * anything missed is collected by a later merge.
    */
  private def gc(fs: FileSystem, dir: Path,
                 orphanRetentionMs: Long = OrphanRetentionMs): Unit = {
    val manifests = manifestFiles(fs, dir)
    // no manifest ⇒ not (yet) a protocol table: the root-level part- files
    // ARE the data of a legacy pre-manifest table, not migration leftovers.
    // The sweep below must only run once a commit proves migration happened
    // — otherwise vacuum() on an unmigrated table would destroy it.
    if (manifests.isEmpty) return
    // retention policy lives in the CURRENT manifest: keep the last
    // max(retainVersions, KeepManifests) versions, plus any version
    // younger than retainMs (age read from the manifest file's own
    // mtime — robust for pre-commitInfo versions with no opTs)
    val cur = manifests.last match { case (v, p) => readManifest(fs, v, p) }
    val keepCount = math.max(KeepManifests, cur.retainVersions)
    val (dropByCount, keepByCount) =
      manifests.splitAt(math.max(0, manifests.size - keepCount))
    val ageCut = System.currentTimeMillis() - cur.retainMs
    val (keptByAge, dropAged) =
      if (cur.retainMs <= 0L) (Seq.empty, dropByCount)
      else dropByCount.partition { case (_, p) =>
        fs.getFileStatus(p).getModificationTime >= ageCut }
    // a TAGGED version is pinned against reclamation regardless of the
    // count/age windows — the tag is a promise that `VERSION AS OF
    // 'name'` keeps answering until the tag drops
    val tagged = cur.tags.values.toSet
    val (keptByTag, drop) = dropAged.partition(m => tagged(m._1))
    val keep = keptByTag ++ keptByAge ++ keepByCount
    // live branch lineages count as retained: their epochs, overlay
    // dirs and DV sidecars are pinned until the branch publishes
    // (fastForward folds them into main) or drops
    val keptManifests = keep.map { case (v, p) =>
      if (v == cur.version) cur else readManifest(fs, v, p) } ++
      branchManifestFiles(fs, dir).map { case (_, k, p) =>
        readManifest(fs, k, p) }
    val referenced = keptManifests.flatMap(m =>
      m.epochs.values ++ m.overlays.values.flatten).toSet
    // bucket granularity too: a kept manifest may reference only SOME of
    // an epoch's bucket dirs (later merges re-pointed the others) — the
    // unreferenced siblings are dead data that an epoch-level sweep
    // would keep alive forever (and a physical purge must remove)
    // toSeq first: mapping the Map directly would re-key by epoch name
    // and silently collapse buckets sharing an epoch
    val referencedBuckets = keptManifests
      .flatMap(m => m.epochs.toSeq.map { case (b, e) => (e, b) } ++
        m.overlays.toSeq.flatMap { case (b, es) => es.map(e => (e, b)) })
      .toSet
    drop.foreach { case (_, p) => fs.delete(p, false) }
    val now = System.currentTimeMillis()
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("e-") && !referenced.contains(n) &&
          now - st.getModificationTime > orphanRetentionMs)
        fs.delete(st.getPath, true)
      if (st.isDirectory && n.startsWith(BucketCol + "="))
        fs.delete(st.getPath, true)
      // row-level DML staging (GraftRowLevel): normally removed by the
      // batch commit/abort; a driver crash mid-write leaves the dir
      // behind. The guard is floored at 24h (not the 10-min epoch
      // retention): a statement's staging mtime goes stale the moment
      // its LAST task file lands, so a long straggler tail before the
      // driver-side commit must not lose its changeset to a concurrent
      // disjoint-bucket writer's gc. An explicit vacuum(0) still reaps.
      if (st.isDirectory && n.startsWith("_rowlevel-") &&
          now - st.getModificationTime > (if (orphanRetentionMs <= 0) 0L
            else math.max(orphanRetentionMs, 24L * 3600 * 1000)))
        fs.delete(st.getPath, true)
      // staged manifests get the same age guard as epochs: a concurrent
      // disjoint-bucket writer's .tmp-manifest lives between fs.create and
      // its link/rename — reaping it young would fail that writer's commit
      if (!st.isDirectory && n.startsWith(".tmp-manifest-") &&
          now - st.getModificationTime > orphanRetentionMs)
        fs.delete(st.getPath, false)
      if (!st.isDirectory && (n.startsWith("part-") || n == "_SUCCESS"))
        fs.delete(st.getPath, false)
    }
    referenced.foreach { e =>
      val ep = new Path(dir, e)
      if (fs.exists(ep)) fs.listStatus(ep).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith(BucketCol + "=") &&
            scala.util.Try(n.stripPrefix(BucketCol + "=").toInt).toOption
              .exists(b => !referencedBuckets((e, b))) &&
            now - st.getModificationTime > orphanRetentionMs)
          fs.delete(st.getPath, true)
      }
    }
    // deletion-vector sidecars: reclaim the ones no retained manifest
    // references (superseded by a later DV commit's merged sidecar, or
    // purged by compaction), age-guarded like epochs — a young orphan
    // may be a concurrent DV delete mid-commit
    val referencedDvs = keptManifests.iterator
      .flatMap(_.stats.valuesIterator.flatMap(_.iterator
        .map(_.dv).filter(_.nonEmpty))).toSet
    val dvDir = new Path(dir, DvDirName)
    if (fs.exists(dvDir)) fs.listStatus(dvDir).foreach { st =>
      if (!st.isDirectory && !referencedDvs.contains(st.getPath.getName) &&
          now - st.getModificationTime > orphanRetentionMs)
        fs.delete(st.getPath, false)
    }
    // equality-delete sidecars (parquet DIRECTORIES under _eqd/): same
    // rule — reclaim the ones no retained manifest references (purged
    // by compaction or a full rewrite), age-guarded for mid-commit
    // writers
    val referencedEqds = keptManifests.iterator
      .flatMap(_.eqds.valuesIterator.flatMap(_.iterator.map(_.sidecar)))
      .toSet
    val eqDir = new Path(dir, EqDirName)
    if (fs.exists(eqDir)) fs.listStatus(eqDir).foreach { st =>
      if (!referencedEqds.contains(st.getPath.getName) &&
          now - st.getModificationTime > orphanRetentionMs)
        fs.delete(st.getPath, true)
    }
    // manifest segments: keep every segment some retained head (main,
    // branch, tagged) references; reclaim the rest — superseded ranges
    // and crashed commits' orphans — past the age guard, along with
    // stale `.tmp-seg-` stage files
    val referencedSegs = keptManifests.iterator
      .flatMap(_.segs.iterator).toSet
    val segDir = new Path(dir, SegDirName)
    if (fs.exists(segDir)) fs.listStatus(segDir).foreach { st =>
      val n = st.getPath.getName
      val live = n.startsWith("seg-") && n.endsWith(".json") &&
        referencedSegs.contains(
          n.stripPrefix("seg-").stripSuffix(".json"))
      if (!live && now - st.getModificationTime > orphanRetentionMs)
        fs.delete(st.getPath, false)
    }
  }

  /** Test hook: gc with zero orphan retention (immediate reclamation). */
  private[graft] def gcNow(spark: SparkSession, tablePath: String): Unit =
    gc(fsFor(spark, tablePath), new Path(tablePath), orphanRetentionMs = 0L)

  /** Operational VACUUM (Delta's VACUUM / Iceberg's remove_orphan_files):
    * reclaim unreferenced epochs older than `retentionMs` and other
    * stale artifacts, without committing anything. Merges already gc on
    * commit; vacuum exists for cold tables that stopped merging with
    * orphans left behind (a crashed writer's last epoch). Retention
    * below the default forfeits the concurrent-writer grace window —
    * only safe when no writer can be mid-commit.
    */
  def vacuum(spark: SparkSession, tablePath: String,
             retentionMs: Long = OrphanRetentionMs): Unit =
    gc(fsFor(spark, tablePath), new Path(tablePath), retentionMs)

  /** Drop RETIRED writer app ids from the txn ledger. The manifest is a
    * full snapshot, so commit cost is O(1) in commit count (nothing
    * replays a log — see PROTOCOL.md "Manifest growth"); the one term
    * that grows without bound over a table's life is the ledger: one
    * entry per DISTINCT app id ever used, kept forever because dropping
    * an entry forfeits that app's replay guard. This is the operational
    * expiry for decommissioned writers (Delta's transaction-identifier
    * retention, made explicit): expired apps' future replays would
    * re-apply, so expire only apps that can no longer deliver.
    */
  def expireTxns(spark: SparkSession, tablePath: String,
                 apps: Seq[String]): Unit =
    commitMetadata(fsFor(spark, tablePath), new Path(tablePath),
      "expireTxns") {
      case Some(man) if apps.exists(man.txns.contains) =>
        Some(man.copy(txns = man.txns -- apps))
      case _ => None
    }

  /** Collapse readable history to the CURRENT state — the
    * right-to-be-forgotten completion of [[delete]]: a keyed delete
    * removes a row from the current version, but retained older
    * versions (time travel) still serve it. truncateHistory commits
    * enough duplicate manifests of the current state that EVERY
    * retained version post-dates the call; the superseded versions'
    * epochs become unreferenced and [[vacuum]] (or any later merge's
    * gc, after the orphan window) physically reclaims their files.
    * `delete → truncateHistory → vacuum` is the full purge: gone from
    * the current read, gone from time travel, gone from disk.
    */
  def truncateHistory(spark: SparkSession, tablePath: String): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man =>
      // a tag pins its version against gc, so truncation under one
      // would either break the tag or defeat the purge — the caller
      // must decide (drop the tag first), never this code silently
      val pinned = man.tags.filter(_._2 < man.version)
      require(pinned.isEmpty,
        s"truncateHistory: tags ${pinned.keys.toSeq.sorted.mkString(", ")} " +
          s"pin pre-truncation versions of $tablePath — drop them first " +
          "(a purge that silently kept tagged history would lie, one " +
          "that silently broke tags would too)")
      // enough duplicates to push every pre-call version off the COUNT
      // window. Age retention (retainMs) still holds the old manifests
      // until their window passes — a right-to-be-forgotten purge on an
      // age-retained table must setRetention down first (or wait it
      // out); silently overriding the recorded policy here would defeat
      // the lagging-consumer guarantee it exists for.
      (1 until math.max(KeepManifests, man.retainVersions)).foreach { i =>
        commitOrConflict(fs, dir, man.copy(version = man.version + i),
          "truncateHistory")
      }
      gc(fs, dir)
    }
  }

  /** Create (or move) a VERSION TAG — Iceberg's named references,
    * scaled to the manifest protocol: `tag` pins `version` (default:
    * the current one) against gc and count-based retention until
    * dropped, and every read surface that accepts a version accepts
    * the tag name instead (`VERSION AS OF 'certified'`, the
    * `versionAsOf` option, [[readTableVersion]] via
    * [[resolveVersionRef]]). This is the audit / write-audit-publish
    * anchor: load, validate against the tagged state, tag the new
    * version on pass — or `restore` to the tag on fail. One metadata
    * commit, rebase-safe like every policy write.
    */
  def createTag(spark: SparkSession, tablePath: String, tag: String,
                version: Option[Long] = None): Unit = {
    require(tag.nonEmpty && scala.util.Try(tag.toLong).isFailure,
      s"createTag: '$tag' — tag names share VERSION AS OF's namespace " +
        "with numeric versions, so a number cannot be a tag")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    // resolve the DEFAULT version ONCE, before any retry: a lost commit
    // race must re-apply the tag to the version current AT THE CALL,
    // never silently re-target the concurrent writer's newer state — a
    // WAP pipeline that validated version N and tags "certified" must
    // pin N or fail, not pin unaudited N+1
    def missing = new IllegalArgumentException(
      s"createTag: $tablePath holds no committed graft table")
    val v = version.getOrElse(
      currentManifest(fs, dir).map(_.version).getOrElse(throw missing))
    commitMetadata(fs, dir, "tag") { head =>
      val man = head.getOrElse(throw missing)
      val retained = manifestFiles(fs, dir).map(_._1)
      require(retained.contains(v),
        s"createTag: version $v not retained for $tablePath " +
          s"(readable: ${retained.mkString(", ")})")
      Some(man.copy(tags = man.tags + (tag -> v)))
    }
  }

  /** Drop a version tag; the version it pinned becomes reclaimable by
    * the ordinary retention rules at the next gc.
    */
  def dropTag(spark: SparkSession, tablePath: String, tag: String): Unit =
    commitMetadata(fsFor(spark, tablePath), new Path(tablePath), "untag") {
      case Some(man) if man.tags.contains(tag) =>
        Some(man.copy(tags = man.tags - tag))
      case _ => None
    }

  // ---- CHECK CONSTRAINTS (ANSI table constraints) ---------------------
  //
  // Delta's table constraints on the manifest protocol: a named CHECK
  // predicate is recorded in the manifest (name → SQL), validated
  // against ALL existing rows when added (one pruned scan), and
  // enforced on every data-adding write path — CoW epochs and
  // merge-on-read overlays, main or branch, batch or streaming — by a
  // filter fused into the epoch write's own pass (whole-stage codegen;
  // no extra job). ANSI semantics: a row passes when the predicate is
  // TRUE or NULL; a FALSE row fails the WHOLE commit with the
  // constraint name and the violating row's referenced columns.
  // Deletes never add rows, so survivor-only rewrites re-validate for
  // free (survivors passed when written). At 100 TB the costs are the
  // right shape: add-time validation is one corpus scan (exactly what
  // the guarantee requires), enforcement is O(written rows).

  /** Column names a CHECK predicate references, RESOLVED against the
    * table's top-level fields — the seam for validating a new
    * constraint and for rejecting RENAME/DROP of a constrained column.
    * A multi-part reference is either struct access (`s.f` — the HEAD
    * names the column) or a qualified reference (`t.price` — the
    * SECOND part does); resolution prefers whichever part actually
    * names a schema field, so qualified predicates neither get
    * rejected as unknown nor slip past the alter guards.
    */
  private[sources] def checkPredicateColumns(spark: SparkSession, sql: String,
                                             schema: StructType): Seq[String] = {
    val names = schema.fieldNames
    def resolve(parts: Seq[String]): String =
      if (names.exists(_.equalsIgnoreCase(parts.head))) parts.head
      else if (parts.length >= 2 &&
        names.exists(_.equalsIgnoreCase(parts(1)))) parts(1)
      else parts.head
    spark.sessionState.sqlParser.parseExpression(sql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        resolve(a.nameParts)
    }.distinct
  }

  /** Rewrite a CHECK predicate's QUALIFIED references (`t.price`) to
    * the bare column the qualifier wraps, so the stored SQL resolves
    * against the table's own attributes on every later read/write
    * (enforcement binds the predicate to unqualified scans). Struct
    * access whose head IS a column (`s.f`) passes through untouched.
    */
  private[sources] def normalizeCheckSql(spark: SparkSession, sql: String,
                                         schema: StructType): String = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val names = schema.fieldNames
    spark.sessionState.sqlParser.parseExpression(sql).transform {
      case a: UnresolvedAttribute
          if a.nameParts.length >= 2 &&
            !names.exists(_.equalsIgnoreCase(a.nameParts.head)) &&
            names.exists(_.equalsIgnoreCase(a.nameParts(1))) =>
        UnresolvedAttribute(a.nameParts.tail)
    }.sql
  }

  /** Every (generatedColumn, expression, referencedColumn) triple of
    * the schema's GENERATED ALWAYS AS expressions — the seam for
    * rejecting RENAME/DROP of a referenced column, which would leave an
    * unresolvable expression in the surviving field's metadata and fail
    * every later write at analysis (Delta blocks these alters too).
    */
  private def generatedReferences(spark: SparkSession, schema: StructType)
      : Seq[(String, String, String)] =
    generatedSpecs(schema).toSeq.flatMap { case (c, g) =>
      scala.util.Try(spark.sessionState.sqlParser.parseExpression(g)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute => a.nameParts.head
        }).getOrElse(Seq.empty).map(r => (c, g, r))
    }

  /** Types `to_json` can serialize for the violation message — anything
    * else is elided from the diagnostic rather than risked at analysis.
    */
  private def jsonSafe(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.NumericType |
         org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.BooleanType |
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    case org.apache.spark.sql.types.ArrayType(e, _) => jsonSafe(e)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      jsonSafe(k) && jsonSafe(v)
    case s: StructType => s.fields.forall(f => jsonSafe(f.dataType))
    case _ => false
  }

  /** The single-pass write-side guard: TRUE/NULL rows stream through
    * untouched; a FALSE row evaluates the (short-circuited) error arm
    * and aborts the commit. Stays inside whole-stage codegen — the
    * predicate is ordinary Catalyst, the error arm is never evaluated
    * on the happy path.
    */
  private def enforceChecks(df: DataFrame, checks: Map[String, String],
                            tablePath: String): DataFrame =
    checks.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, sql)) =>
      val pass = coalesce(expr(sql).cast("boolean"), lit(true))
      val refs = checkPredicateColumns(d.sparkSession, sql, d.schema)
        .flatMap(c => d.schema.fields.find(_.name.equalsIgnoreCase(c)))
        .filter(f => jsonSafe(f.dataType))
      val msg =
        if (refs.isEmpty)
          lit(s"graft: CHECK constraint '$name' CHECK ($sql) violated " +
            s"on $tablePath")
        else concat(
          lit(s"graft: CHECK constraint '$name' CHECK ($sql) violated " +
            s"on $tablePath by row "),
          to_json(struct(refs.map(f => col(f.name)): _*)))
      d.filter(pass.or(raise_error(msg).isNotNull))
    }

  /** Add a named CHECK constraint: validate the predicate parses and
    * resolves over the current schema, prove EVERY existing live row
    * satisfies it (one scan of the pinned current version — stats/DV
    * aware like any read), then record it in a metadata-only commit.
    * The validation and the recorded version can differ by a concurrent
    * commit; that is safe because every committed row since the scan
    * went through [[enforceChecks]] against SOME constraint set, and
    * the rebase rule conflicts loudly when the set moves mid-write.
    */
  def addCheckConstraint(spark: SparkSession, tablePath: String,
                         name: String, predicateSql: String): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"addCheckConstraint: constraint name '$name' — use letters, " +
        "digits and underscores")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man0 = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"addCheckConstraint: $tablePath holds no committed graft table"))
    require(!man0.checks.contains(name),
      s"addCheckConstraint: constraint '$name' already exists on " +
        s"$tablePath as CHECK (${man0.checks(name)}) — drop it first")
    val schema = indexSchema(spark, tablePath, man0)
    val names = schema.fieldNames.map(_.toLowerCase).toSet
    // qualified references (`t.price`) lose their qualifier HERE, so
    // the stored predicate binds to the table's own attributes on
    // every later enforcement pass
    val predicate = normalizeCheckSql(spark, predicateSql, schema)
    checkPredicateColumns(spark, predicate, schema).foreach(c =>
      require(names.contains(c.toLowerCase),
        s"addCheckConstraint: CHECK ($predicate) references column " +
          s"'$c' which is not in the schema of $tablePath"))
    // one pruned scan of the PINNED version: the proof the constraint
    // claims — every live row passes (TRUE or NULL; FALSE fails)
    val violating = readTableVersion(spark, tablePath, man0.version)
      .filter(!coalesce(expr(predicate).cast("boolean"), lit(true)))
      .limit(1).collect()
    if (violating.nonEmpty)
      throw new IllegalStateException(
        s"addCheckConstraint: existing rows of $tablePath violate " +
          s"CHECK ($predicate) — e.g. ${violating(0)}; constraint " +
          "not added")
    commitMetadata(fs, dir, "addconstraint") { head =>
      val man = head.getOrElse(throw new IllegalArgumentException(
        s"addCheckConstraint: $tablePath lost its manifest"))
      // a concurrent data commit since the validation scan may have
      // added rows the scan never saw — those went through an
      // enforcement pass WITHOUT this constraint, so the proof no
      // longer covers the table: re-validate instead of committing
      if (man.version != man0.version &&
          (man.epochs != man0.epochs || man.overlays != man0.overlays ||
            dvFileRefs(man) != dvFileRefs(man0)))
        throw new java.util.ConcurrentModificationException(
          s"addCheckConstraint: $tablePath moved from version " +
            s"${man0.version} to ${man.version} during validation — " +
            "re-run against the new table state")
      Some(man.copy(checks = man.checks + (name -> predicate)))
    }
  }

  /** Drop a named CHECK constraint (metadata-only commit; absent name
    * is a no-op so SQL `DROP CONSTRAINT IF EXISTS` maps directly).
    */
  def dropCheckConstraint(spark: SparkSession, tablePath: String,
                          name: String): Unit =
    commitMetadata(fsFor(spark, tablePath), new Path(tablePath),
      "dropconstraint") {
      case Some(man) if man.checks.contains(name) =>
        Some(man.copy(checks = man.checks - name))
      case _ => None
    }

  // ---- IDENTITY COLUMNS (GENERATED BY DEFAULT AS IDENTITY) ------------
  //
  // Delta's identity columns on the manifest protocol: the spec
  // (start/step) lives in the schema's field metadata (Spark's own
  // encoding — `CREATE TABLE (id BIGINT GENERATED BY DEFAULT AS
  // IDENTITY ...)`), the HIGH-WATER lives in the manifest (`idhw`).
  // NULL inputs get fresh values in ONE distributed pass — value =
  // hw + (rowOrdinal + 1) × step via partition-offset arithmetic, no
  // global sort, GAPS ALLOWED (every identity implementation's
  // contract) — and the commit reads the written epoch's extreme back
  // to advance the high-water past assigned AND explicit values. A
  // concurrent commit that moved `idhw` conflicts the CAS loudly
  // (overlapping reservations re-run, never collide). BY DEFAULT
  // semantics only: explicit non-NULL inputs are stored as given
  // (GENERATED ALWAYS is rejected at create — on a keyed-upsert table
  // every merge restates its keys, so always-generated would make the
  // table unwritable).

  /** Identity specs (start, step) declared in a schema's field
    * metadata, via Spark's own encoding/probe.
    */
  private[sources] def identitySpecs(schema: StructType)
      : Map[String, (Long, Long)] =
    schema.fields.flatMap { f =>
      val info = org.apache.spark.sql.catalyst.util.IdentityColumn
        .getIdentityInfo(f)
      info.map(s => f.name -> (s.getStart, s.getStep))
    }.toMap

  /** Fill NULL identity inputs with fresh values past the table's
    * high-water via PER-PARTITION CONTIGUOUS RESERVATION: one narrow
    * counting job sizes each partition (and counts its NULL inputs — a
    * batch with none skips assignment entirely), a driver-side prefix
    * sum turns the counts into contiguous ordinal ranges, and the
    * assignment pass computes `hw + (offset[pid] + localOrdinal + 1) ×
    * step` inside whole-stage codegen. The high-water therefore
    * advances ∝ ROWS WRITTEN — never ∝ maxPartitionId·2³³ the way raw
    * `monotonically_increasing_id` ordinals would, which on a
    * ~10⁵-task cluster write burns ~8·10¹⁴ of the BIGINT space per
    * commit. Gaps remain allowed (identity's universal contract), and
    * the counting job relies on the frame's partitioning being stable
    * across re-evaluation — Spark's own writer-retry guarantee (its
    * sources replay deterministically and round-robin repartition
    * sorts first, SPARK-23207). Narrow identity types (INT/SHORT) get
    * a fused range guard: a fresh value outside the declared type's
    * range fails the commit loudly in BOTH ANSI and legacy modes,
    * never wrapping into colliding ids.
    */
  private def assignIdentity(df0: DataFrame,
                             specs: Map[String, (Long, Long)],
                             hw: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.types._
    val present = specs.keys.toSeq.sorted.filter(df0.columns.contains)
    if (present.isEmpty) return df0
    // the counting job and the assignment pass are TWO evaluations of
    // the same frame: sound for deterministic plans (Spark's writer-
    // retry replay guarantee — sources replay deterministically and
    // round-robin repartition sorts first, SPARK-23207), but a plan
    // carrying rand()/an impure UDF could size partitions differently
    // between the passes, letting assigned ordinals collide. Pin such
    // a frame ONCE (localCheckpoint materializes the rows and truncates
    // the lineage, so both passes — and the epoch write after — read
    // the same materialized partitions); deterministic plans skip the
    // cost, mirroring guardUniqueKeys' pinning rule.
    val df = {
      val analyzed = df0
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[
          org.apache.spark.sql.Row]]
        .queryExecution.analyzed
      // Expression.exists does not descend into SubqueryExpression
      // inner plans, so scan the (recursively collected) subquery
      // plans too — a rand() hiding inside an IN/EXISTS subquery
      // re-sizes partitions between the two passes just as well
      val nonDeterministic = (analyzed +: analyzed.subqueriesAll)
        .exists(_.exists(p =>
          p.expressions.exists(e => e.exists(!_.deterministic))))
      if (nonDeterministic) df0.localCheckpoint(eager = true) else df0
    }
    // ONE narrow job over the batch: per-partition row totals (the
    // reservation sizes) and per-column NULL counts (the skip signal)
    val perPart = df.select(present.map(col): _*).rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var total = 0L
        val nulls = new Array[Long](present.length)
        it.foreach { r =>
          total += 1L
          var j = 0
          while (j < nulls.length) {
            if (r.isNullAt(j)) nulls(j) += 1L
            j += 1
          }
        }
        Iterator((pid, total, nulls))
      }.collect()
    val needs = present.indices
      .filter(j => perPart.exists(_._3(j) > 0L)).map(present)
    if (needs.isEmpty) return df
    val nParts = perPart.iterator.map(_._1).foldLeft(-1)(math.max) + 1
    val offsets = new Array[Long](math.max(nParts, 1))
    locally {
      val byPid = perPart.iterator.map(t => t._1 -> t._2).toMap
      var acc = 0L
      var i = 0
      while (i < nParts) {
        offsets(i) = acc; acc += byPid.getOrElse(i, 0L); i += 1
      }
    }
    // the partition-contiguous ordinal, materialized ONCE (a temp
    // column) so every identity column reads the same per-row value —
    // never a second evaluation of the nondeterministic counter
    val ordCol = "__graft_identity_ordinal"
    val withOrd = df.withColumn(ordCol,
      element_at(typedlit(offsets.toSeq), spark_partition_id() + lit(1)) +
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1L)))
    val ordinal = col(ordCol)
    needs.foldLeft(withOrd) { case (d, c) =>
      val (start, step) = specs(c)
      val base = hw.getOrElse(c, start - step)
      val dt = d.schema(d.schema.fieldIndex(c)).dataType
      val fresh = lit(base) + (ordinal + lit(1L)) * lit(step)
      val guarded = dt match {
        case LongType => fresh
        case _ =>
          val (lo, hi) = dt match {
            case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
            case ShortType => (Short.MinValue.toLong, Short.MaxValue.toLong)
            case other => throw new IllegalStateException(
              s"assignIdentity: unsupported identity type $other for '$c'")
          }
          when(fresh.between(lit(lo), lit(hi)), fresh)
            .otherwise(raise_error(concat(
              lit(s"graft: identity column '$c' (${dt.simpleString}) " +
                "exhausted its declared type's range at value "),
              fresh.cast("string"),
              lit(" — widen the column or re-create the table"))))
      }
      d.withColumn(c, coalesce(col(c), guarded.cast(dt)))
    }.drop(ordCol)
  }

  /** The written epoch's per-column identity extreme (max for step>0,
    * min for step<0) — ONE narrow agg over the freshly written files,
    * the same cost shape as the stats refresh.
    */
  private def identityExtremes(spark: SparkSession, epochDir: String,
                               specs: Map[String, (Long, Long)])
      : Map[String, Long] = {
    if (specs.isEmpty) return Map.empty
    val df = spark.read.parquet(epochDir)
    val cols = specs.filter { case (c, _) => df.columns.contains(c) }
    if (cols.isEmpty) return Map.empty
    val aggs = cols.toSeq.map { case (c, (_, step)) =>
      (if (step > 0) max(col(c)) else min(col(c)))
        .cast("long").as(s"__id_$c")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    cols.keys.flatMap { c =>
      val i = row.fieldIndex(s"__id_$c")
      if (row.isNullAt(i)) None else Some(c -> row.getLong(i))
    }.toMap
  }

  /** Advance the high-water past this commit's extremes (direction per
    * step sign). */
  private def advanceIdhw(prior: Map[String, Long],
                          specs: Map[String, (Long, Long)],
                          ext: Map[String, Long]): Map[String, Long] =
    prior ++ ext.map { case (c, e) =>
      val (start, step) = specs(c)
      val cur = prior.getOrElse(c, start - step)
      c -> (if (step > 0) math.max(cur, e) else math.min(cur, e))
    }

  // ---- GENERATED COLUMNS (GENERATED ALWAYS AS (expr)) -----------------
  //
  // Delta's generated columns: the generation expression rides the
  // schema's field metadata (Spark's GENERATION_EXPRESSION key). On
  // every write, a NULL/omitted input is COMPUTED from the row's other
  // columns and an explicit input is VALIDATED against the expression
  // (mismatch fails the commit — same fused single-pass guard as CHECK
  // constraints). Needs no manifest state; survivors hold by induction.

  /** Generation expressions declared in a schema's field metadata. */
  private[sources] def generatedSpecs(schema: StructType)
      : Map[String, String] =
    schema.fields.flatMap { f =>
      org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(f).map(f.name -> _)
    }.toMap

  /** Compute-or-validate generated columns: NULL inputs take the
    * expression's value; non-NULL inputs must EQUAL it (null-safe
    * compare) or the commit fails with the offending row. With
    * `recompute` the expression simply REPLACES the input — the
    * row-level (UPDATE/MERGE) semantics, where a carried-along stale
    * value is the norm, not a user assertion (Delta recomputes there
    * too; INSERT keeps the validating shape).
    */
  private def applyGenerated(df: DataFrame, specs: Map[String, String],
                             tablePath: String,
                             recompute: Boolean = false): DataFrame =
    specs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (c, g)) =>
      if (!d.columns.contains(c)) d
      else {
        val dt = d.schema(d.schema.fieldIndex(c)).dataType
        val gen = expr(g).cast(dt)
        if (recompute) d.withColumn(c, gen)
        else {
          val filled = d.withColumn(c, coalesce(col(c), gen))
          filled.filter(col(c) <=> gen or raise_error(concat(
            lit(s"graft: generated column '$c' GENERATED ALWAYS AS ($g) " +
              s"on $tablePath received a conflicting explicit value "),
            col(c).cast("string"))).isNotNull)
        }
      }
    }

  /** The entry-point combinator every data-adding path runs its
    * INCOMING rows through: identity assignment first (a generated
    * expression may reference the assigned key), then generated-column
    * compute-or-validate. Declared specs come from the MANIFEST schema;
    * a frame column the schema doesn't know is left alone.
    */
  private def applyDeclaredColumns(df: DataFrame, man: Option[Manifest],
                                   tablePath: String,
                                   recomputeGenerated: Boolean = false)
      : DataFrame = {
    val declared = man.flatMap(_.schema)
      .map(s => DataType.fromJson(s).asInstanceOf[StructType])
      .getOrElse(df.schema)
    val idSpec = identitySpecs(declared)
    val genSpec = generatedSpecs(declared)
    // a direct API merge that OMITS a declared identity/generated
    // column must not store NULLs for it — add the column as a typed
    // NULL so assignment/computation always runs (the documented
    // "assignment precedes every write" invariant)
    val complete = (idSpec.keys ++ genSpec.keys).toSeq.distinct.sorted
      .filterNot(c => df.columns.exists(_.equalsIgnoreCase(c)))
      .foldLeft(df) { (d, c) =>
        d.withColumn(c,
          lit(null).cast(declared(declared.fieldIndex(c)).dataType))
      }
    val assigned =
      if (idSpec.isEmpty) complete
      else assignIdentity(complete, idSpec,
        man.map(_.idhw).getOrElse(Map.empty))
    if (genSpec.isEmpty) assigned
    else applyGenerated(assigned, genSpec, tablePath, recomputeGenerated)
  }

  // ---- NAMED BRANCHES (write-audit-publish staging) ------------------------
  //
  // Iceberg's branch refs, scaled to the linear manifest protocol: a
  // branch is a SEPARATE manifest lineage in the table directory
  // (`_branch-<name>-K.json`, K continuing from the main version it
  // forked at), sharing the epoch/bucket data space. Branch writes run
  // the ordinary merge machinery — survivor reads against the branch
  // head, fresh epoch dirs under the same table root — but commit to
  // the branch lineage, so MAIN NEVER SEES the staged state.
  // `fastForward` publishes the branch head as the next main version
  // iff main still sits at the branch's base (a concurrent main commit
  // means the staging validated a stale world — loud conflict, restage).
  // gc treats live branch manifests as retained: their epochs, overlay
  // dirs and DV sidecars are pinned until the branch publishes or drops.

  private[sources] val BranchPrefix = "_branch-"

  private def branchManPrefix(name: String): String = s"$BranchPrefix$name-"

  private def requireBranchName(op: String, name: String): Unit =
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"$op: branch name '$name' — use letters, digits and underscores " +
        "(the name is part of the staged manifests' file names)")

  /** All live branches' manifest files: (branch, K, path), K-ordered
    * within a branch.
    */
  private def branchManifestFiles(fs: FileSystem, dir: Path)
      : Seq[(String, Long, Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith(BranchPrefix) &&
        p.getName.endsWith(".json"))
      .flatMap { p =>
        val core = p.getName.stripPrefix(BranchPrefix).stripSuffix(".json")
        val i = core.lastIndexOf('-')
        if (i <= 0) None
        else scala.util.Try(core.substring(i + 1).toLong).toOption
          .map(k => (core.substring(0, i), k, p))
      }.sortBy(t => (t._1, t._2))

  /** The branch's newest staged manifest, None when the branch does not
    * exist.
    */
  private[sources] def branchHead(fs: FileSystem, dir: Path,
                                  name: String): Option[Manifest] =
    branchManifestFiles(fs, dir).filter(_._1 == name).lastOption
      .map { case (_, k, p) => readManifest(fs, k, p) }

  /** Live branch names of the table (empty when none are staged). */
  def listBranches(spark: SparkSession,
                                    tablePath: String): Seq[String] =
    branchManifestFiles(fsFor(spark, tablePath), new Path(tablePath))
      .map(_._1).distinct.sorted

  /** Fork a branch at the CURRENT main version: one staged manifest
    * whose content is the main head and whose `branchBase` records the
    * fork point for the publish-time conflict check. Creation is a
    * no-overwrite publish on the branch's first file — two racing
    * creators of one name fail loudly, and main is untouched.
    */
  def createBranch(spark: SparkSession, tablePath: String,
                   name: String): Unit = {
    requireBranchName("createBranch", name)
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"createBranch: $tablePath holds no committed graft table"))
    require(branchHead(fs, dir, name).isEmpty,
      s"createBranch: branch '$name' already exists on $tablePath")
    publishManifest(fs, dir,
      new Path(dir, f"${branchManPrefix(name)}${man.version}%016d.json"),
      man.copy(branchBase = man.version, op = "branch-create",
        opTs = System.currentTimeMillis()))
    // VERIFY after publish: the file-name CAS only collides when two
    // racing creators fork at the SAME main version — a main commit
    // between their reads gives them different file names and both
    // publishes succeed. Exactly-one-creator is restored by a
    // post-publish listing: seeing ANY other file under the name means
    // a race happened; this creator retracts its root and fails loudly
    // (both may retract in the worst interleaving — loud and clean, vs
    // one creator silently staging on the other's base).
    val others = branchManifestFiles(fs, dir)
      .filter { case (n, k, _) => n == name && k != man.version }
    if (others.nonEmpty) {
      fs.delete(
        new Path(dir, f"${branchManPrefix(name)}${man.version}%016d.json"),
        false)
      throw new java.util.ConcurrentModificationException(
        s"createBranch: a racing createBranch('$name') on $tablePath " +
          "forked at a different main version — this creator retracted; " +
          "re-check the branch state and retry")
    }
  }

  /** Publish the branch head as the next MAIN version — the WAP
    * "publish" step. Requires main to still sit at the branch's fork
    * version: a main commit since creation means the staged work (and
    * its audit) validated a stale world, so the publish conflicts
    * loudly instead of silently clobbering. On success the branch's
    * staged manifests are removed (their epochs are now main-referenced).
    */
  def fastForward(spark: SparkSession, tablePath: String,
                  name: String): Unit = {
    requireBranchName("fastForward", name)
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val bh = branchHead(fs, dir, name).getOrElse(
      throw new IllegalArgumentException(
        s"fastForward: no branch '$name' on $tablePath"))
    require(bh.branchBase >= 0L,
      s"fastForward: branch '$name' carries no fork version " +
        "(corrupt staging state)")
    val cur = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"fastForward: $tablePath holds no committed graft table"))
    if (cur.version != bh.branchBase)
      throw new java.util.ConcurrentModificationException(
        s"fastForward: main of $tablePath advanced to version " +
          s"${cur.version} since branch '$name' forked at " +
          s"${bh.branchBase} — the staged (and audited) state no longer " +
          "applies; re-stage on a fresh branch")
    try {
      commitManifest(fs, dir, bh.copy(version = cur.version + 1,
        branchBase = -1L, op = "fast_forward",
        opTs = System.currentTimeMillis()))
    } catch {
      case e: java.io.IOException =>
        // the no-overwrite CAS lost: a main commit raced the publish
        throw new java.util.ConcurrentModificationException(
          s"fastForward: a concurrent main commit on $tablePath beat " +
            s"the publish of branch '$name' — the staged state no " +
            "longer applies; re-stage on a fresh branch", e)
    }
    // retire ONLY the published prefix (K ≤ the head this publish
    // carried): a staged commit racing the publish lands at K+1 and
    // must not be silently destroyed — it survives as a still-listed
    // branch whose fork version now trails main, so the next
    // fastForward conflicts loudly and the operator re-stages or drops
    branchManifestFiles(fs, dir)
      .filter { case (n, k, _) => n == name && k <= bh.version }
      .foreach { case (_, _, p) => fs.delete(p, false) }
    gc(fs, dir)
    // staging DEFERRED auto-maintenance here: the published state may
    // carry the whole staging window's epochs, overlays and DVs, and a
    // WAP-only workload has no direct main write to drain the pressure
    maybeAutoSplit(spark, fs, dir, tablePath, AutoSplitBytesPerBucket)
    maybeAutoCompact(spark, fs, dir, tablePath, AutoCompactEpochs)
    maybeAutoCompactMor(spark, fs, dir, tablePath)
  }

  /** Abandon a branch: its staged manifests drop now; the epochs only
    * they referenced become reclaimable by the ordinary orphan rules at
    * the next gc. Main never saw any of it.
    */
  def dropBranch(spark: SparkSession, tablePath: String,
                 name: String): Unit = {
    requireBranchName("dropBranch", name)
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    branchManifestFiles(fs, dir).filter(_._1 == name)
      .foreach { case (_, _, p) => fs.delete(p, false) }
    gc(fs, dir)
  }

  /** Snapshot read of the branch head — the WAP "audit" read. */
  def readBranch(spark: SparkSession, tablePath: String,
                 name: String): DataFrame = {
    val fs = fsFor(spark, tablePath)
    val man = branchHead(fs, new Path(tablePath), name).getOrElse(
      throw new IllegalArgumentException(
        s"readBranch: no branch '$name' on $tablePath"))
    readPinnedWhere(spark, tablePath, man, Seq.empty)
  }

  /** A version REFERENCE — a numeric version or a tag name — resolved
    * to the concrete version it names (tags resolve through the
    * CURRENT manifest; an unknown ref fails loudly with both
    * namespaces' candidates).
    */
  def resolveVersionRef(spark: SparkSession, tablePath: String,
                        ref: String): Long =
    scala.util.Try(ref.toLong).getOrElse {
      val man = currentManifest(fsFor(spark, tablePath), new Path(tablePath))
        .getOrElse(throw new IllegalArgumentException(
          s"versionAsOf: $tablePath holds no committed graft table"))
      man.tags.getOrElse(ref, throw new IllegalArgumentException(
        s"versionAsOf: '$ref' is neither a numeric version nor a tag of " +
          s"$tablePath (tags: ${man.tags.keys.toSeq.sorted.mkString(", ")})"))
    }

  /** The table's current retention policy `(versions, ms)` — the
    * catalog's ALTER TABLE reads it to apply partial updates.
    */
  private[sources] def describeRetention(spark: SparkSession,
                                         tablePath: String): (Int, Long) =
    currentManifest(fsFor(spark, tablePath), new Path(tablePath))
      .map(m => (m.retainVersions, m.retainMs))
      .getOrElse((KeepManifests, 0L))

  /** Set the table's retention policy (see [[Manifest.retainVersions]]):
    * a metadata-only commit every later commit carries forward.
    * `versions` below [[KeepManifests]] clamps up (a pinned reader must
    * survive one concurrent commit); `ms` = 0 means count-only. Takes
    * effect immediately — RAISING retention stops gc from dropping
    * history from now on (already-collected versions are gone);
    * lowering it lets the next commit's gc reclaim.
    */
  def setRetention(spark: SparkSession, tablePath: String,
                   versions: Int = KeepManifests, ms: Long = 0L): Unit = {
    val v = math.max(KeepManifests, versions)
    commitMetadata(fsFor(spark, tablePath), new Path(tablePath),
      "retention") { head =>
      val man = head.getOrElse(throw new IllegalArgumentException(
        s"setRetention: no committed graft table at $tablePath"))
      if (man.retainVersions == v && man.retainMs == ms) None
      else Some(man.copy(retainVersions = v, retainMs = math.max(0L, ms)))
    }
  }

  /** RESTORE to a retained version (Delta `RESTORE TABLE ... TO VERSION
    * AS OF` / Iceberg `rollback_to_snapshot`): a METADATA-ONLY commit
    * that re-points the table at the target version's full state —
    * buckets, epoch pointers, schema, column ids, stats, Bloom/cluster
    * declarations all roll back; no data file is copied or moved (the
    * target's epochs are alive by the retention contract), so at 100 TB
    * this is one manifest write. History rolls FORWARD: the restore is
    * itself a commit, so the change feed diffs the pre-restore state
    * against the restored one (downstream consumers see the rollback as
    * ordinary keyed changes) and a mistaken restore is restorable in
    * turn. Deliberately NOT rolled back: the retention policy (an
    * operational knob, not data), the txn ledger (replay dedupe must
    * keep recognizing writer app ids that committed after the target —
    * rolling it back would re-apply their replays as fresh data), and
    * the field-id allocator `nextColId` (ids stamped into retained
    * post-target epochs must never be reissued to new columns, or
    * id-matching across versions would falsely pair them).
    */
  def restoreVersion(spark: SparkSession, tablePath: String,
                     version: Long): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    commitMetadata(fs, dir, "restore") { head =>
      val man = head.getOrElse(throw new IllegalArgumentException(
        s"restore: no committed graft table at $tablePath"))
      if (man.version == version) None // already that state
      else {
        val retained = manifestFiles(fs, dir)
        val target = retained.find(_._1 == version)
          .map(h => readManifest(fs, version, h._2))
          .getOrElse(throw new IllegalArgumentException(
            s"restore: version $version not retained for $tablePath " +
              s"(readable: ${retained.map(_._1).mkString(", ")})"))
        Some(target.copy(
          txns = man.txns,
          retainVersions = man.retainVersions, retainMs = man.retainMs,
          nextColId = math.max(man.nextColId, target.nextColId),
          // tags name VERSIONS (policy, not data) — they survive the
          // rollback; the writer policy flag stays current too
          tags = man.tags,
          deleteVectors = man.deleteVectors))
      }
    }
  }

  /** ALTER TABLE ADD COLUMNS as a METADATA-ONLY commit: append nullable
    * columns to the recorded schema; no data file is touched — every
    * reader null-fills the new columns for existing rows (the same
    * additive-evolution contract as `merge(evolveSchema = true)`, which
    * reaches the identical state through a writing path). Additive only
    * by design: drop/rename/type-change would strand the immutable
    * parquet epochs.
    */
  def addColumns(spark: SparkSession, tablePath: String,
                 cols: StructType): Unit = {
    require(cols.nonEmpty, "addColumns: no columns given")
    commitMetadata(fsFor(spark, tablePath), new Path(tablePath),
      "addColumns") { head =>
      val man = head.getOrElse(throw new IllegalArgumentException(
        s"addColumns: no committed graft table at $tablePath"))
      val cur = man.schema.map(s =>
        DataType.fromJson(s).asInstanceOf[StructType]).getOrElse(
        throw new IllegalStateException(
          s"addColumns: $tablePath records no schema (pre-schema " +
            "manifest) — run one merge first"))
      cols.fields.foreach { f =>
        require(!cur.fieldNames.contains(f.name),
          s"addColumns: column '${f.name}' already exists")
        require(f.nullable,
          s"addColumns: '${f.name}' must be nullable — existing " +
            "rows null-fill (declare NOT NULL data via a rewrite)")
      }
      val next = StructType(cur.fields ++ stripSchemaIds(
        StructType(cols.fields)).fields)
      // an id-stamped table assigns each added column a FRESH field
      // id (never a reused one — see [[Manifest.nextColId]])
      val (cids, ncid) =
        if (man.nextColId > 0L) {
          var n = man.nextColId
          (man.colIds ++ cols.fields.map { f =>
            f.name -> { val v = n; n += 1; v }
          }, n)
        } else (man.colIds, man.nextColId)
      Some(man.copy(schema = Some(next.json), colIds = cids,
        nextColId = ncid))
    }
  }

  /** ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit (Iceberg field
    * IDs / Delta column-mapping `id`, on the parquet-native
    * `parquet.field.id` mechanism — see [[Manifest.colIds]]): the
    * immutable epoch files keep the old name in their footers; readers
    * match the column BY ID, so no data file is touched — at 100 TB the
    * difference between a manifest write and a full-table rewrite.
    * Everything name-keyed in the MANIFEST follows the rename in the
    * same atomic commit: the recorded schema, merge keys, cluster
    * entries (z-order composites included), and the per-file min/max/
    * null-count stats keys (so data skipping on the renamed column keeps
    * pruning old files). Restrictions, each failing loudly: the table
    * must be id-stamped (tables created before field-id stamping carry
    * no ids in their files — migrate with a full rewrite: REPLACE TABLE
    * / `overwriteTable`), the new name must be free (case-insensitive —
    * SQL resolution is), and Bloom columns cannot be renamed (their
    * per-epoch sidecars are name-keyed files shared with retained
    * versions; drop the bloom index first).
    */
  def renameColumn(spark: SparkSession, tablePath: String,
                   from: String, to: String): Unit =
    commitMetadata(fsFor(spark, tablePath), new Path(tablePath),
      "renameColumn") { head =>
      val man = head.getOrElse(throw new IllegalArgumentException(
        s"renameColumn: no committed graft table at $tablePath"))
      val cur = man.schema.map(s =>
        DataType.fromJson(s).asInstanceOf[StructType]).getOrElse(
        throw new IllegalStateException(
          s"renameColumn: $tablePath records no schema (pre-schema " +
            "manifest) — run one merge first"))
      require(man.nextColId > 0L,
        s"renameColumn: $tablePath predates field-id stamping — its " +
          "files carry no column ids to match the renamed column by. " +
          "Migrate with a full rewrite (REPLACE TABLE / overwrite), " +
          "which stamps ids, then rename.")
      require(cur.fieldNames.contains(from),
        s"renameColumn: no column '$from' in $tablePath " +
          s"(columns: ${cur.fieldNames.mkString(", ")})")
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"renameColumn: column '$to' already exists")
      require(!man.bloomCols.contains(from),
        s"renameColumn: '$from' is a Bloom-indexed column — its " +
          "per-epoch sidecars are name-keyed; rebuild without the " +
          "bloom index first")
      man.checks.foreach { case (cn, sql) =>
        require(!checkPredicateColumns(spark, sql, cur)
            .exists(_.equalsIgnoreCase(from)),
          s"renameColumn: '$from' is referenced by CHECK constraint " +
            s"'$cn' CHECK ($sql) — drop the constraint, rename, and " +
            "re-add it over the new name")
      }
      generatedReferences(spark, cur).foreach { case (gc, g, r) =>
        require(!r.equalsIgnoreCase(from),
          s"renameColumn: '$from' is referenced by generated column " +
            s"'$gc' GENERATED ALWAYS AS ($g) — the stored expression " +
            "would no longer resolve; re-create the table to rename it")
      }
      // shred declarations follow the rename; their HIDDEN stats
      // keys remap too — the extraction is a pure function of the
      // variant column (itself matched by field id), so old files'
      // recorded min/max stay exact under the new hidden name. Old
      // epochs' BLOOM sidecars stay keyed under the old hidden name
      // and degrade to keep-all for those files (sound; the next
      // rewrite re-keys them).
      val shredRe: Map[String, String] = man.shredCols
        .filter(_.column == from)
        .map(s => shredColName(s) -> shredColName(s.copy(column = to)))
        .toMap
      def re(c: String): String =
        if (c == from) to else shredRe.getOrElse(c, c)
      def reCluster(entry: String): String = entry.indexOf(':') match {
        case -1 => re(entry)
        case i => entry.substring(0, i + 1) +
          entry.substring(i + 1).split(',').map(c => re(c.trim))
            .mkString(",")
      }
      val next = StructType(cur.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      val stats2 = man.stats.map { case (b, fss) =>
        b -> fss.map(f => f.copy(
          mins = f.mins.map { case (c, v) => re(c) -> v },
          maxs = f.maxs.map { case (c, v) => re(c) -> v },
          nulls = f.nulls.map { case (c, v) => re(c) -> v }))
      }
      Some(man.copy(
        schema = Some(next.json),
        keyCols = man.keyCols.map(re),
        clusterCols = man.clusterCols.map(reCluster),
        stats = stats2,
        colIds = man.colIds.map { case (c, id) => re(c) -> id },
        colStats = man.colStats.map { case (c, s) => re(c) -> s },
        colSketches = man.colSketches
          .map { case (c, s) => re(c) -> s },
        // the identity high-water is name-keyed too: a rename
        // that orphaned it would silently re-issue stored values
        idhw = man.idhw.map { case (c, v) => re(c) -> v },
        colHists = man.colHists.map { case (c, h) => re(c) -> h },
        shredCols = man.shredCols.map(s =>
          if (s.column == from) s.copy(column = to) else s)))
    }

  /** Safe type promotions for [[widenColumn]]: every stored value of
    * `from` is exactly representable in `to`, the parquet readers
    * (vectorized and row-based) read the narrow physical pages through
    * the wide requested type (Spark's parquet type widening), and the
    * stats canonical domain stays comparable — integral types
    * canonicalize to longs and parse under a DOUBLE probe tag exactly
    * (int values are ≤ 2^31, double-exact), so file pruning keeps
    * working across the boundary. Long→double is OUT (2^63-adjacent
    * longs are not double-exact — silent value drift).
    */
  private def canWiden(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  /** ALTER TABLE ALTER COLUMN TYPE as a METADATA-ONLY commit for SAFE
    * WIDENINGS ([[canWiden]]): the recorded schema's field takes the
    * wide type; old epoch files keep their narrow pages and read
    * through the wide requested schema (no rewrite — Iceberg's type
    * promotion). Merge-key columns refuse (`hash(int 5) != hash(long
    * 5)` — the widened key would re-bin every row under a hash no
    * future merge computes); Bloom columns accept integral→integral
    * only (both sides canonicalize to the same `putLong`, so recorded
    * sidecars keep answering; →double would leave sidecars whose hash
    * domain no probe matches).
    */
  def widenColumn(spark: SparkSession, tablePath: String,
                  name: String, to: DataType): Unit = {
    import org.apache.spark.sql.types._
    commitMetadata(fsFor(spark, tablePath), new Path(tablePath),
      "widenColumn") { head =>
      val man = head.getOrElse(throw new IllegalArgumentException(
        s"widenColumn: no committed graft table at $tablePath"))
      val cur = man.schema.map(s =>
        DataType.fromJson(s).asInstanceOf[StructType]).getOrElse(
        throw new IllegalStateException(
          s"widenColumn: $tablePath records no schema (pre-schema " +
            "manifest) — run one merge first"))
      val f = cur.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"widenColumn: no column '$name' in $tablePath " +
            s"(columns: ${cur.fieldNames.mkString(", ")})"))
      if (f.dataType == to) None // idempotent
      else {
        require(canWiden(f.dataType, to),
          s"widenColumn: ${f.dataType.simpleString} -> " +
            s"${to.simpleString} is not a safe widening (allowed: " +
            "byte/short/int -> wider integral or double, float -> " +
            "double); anything else needs a rewrite")
        require(!man.keyCols.contains(name),
          s"widenColumn: '$name' is a merge key — hash(int x) != " +
            "hash(long x), so widening would re-bin every row; " +
            "re-create the table to change a key's type")
        require(!man.bloomCols.contains(name) || to != DoubleType,
          s"widenColumn: '$name' is Bloom-indexed — widening to " +
            "double leaves sidecars no probe can match; rebuild " +
            "without the bloom index first")
        val next = StructType(cur.fields.map(x =>
          if (x.name == name) x.copy(dataType = to) else x))
        Some(man.copy(schema = Some(next.json)))
      }
    }
  }

  /** Replace ONLY the per-column metadata of the recorded schema (the
    * DEFAULT-value keys — `ALTER COLUMN ... SET/DROP DEFAULT`): names
    * and types must match the recorded schema exactly; a metadata-only
    * commit carries everything else forward. Field ids are re-stamped
    * from the manifest (they are write-managed, never caller-supplied).
    */
  def replaceSchemaMetadata(spark: SparkSession, tablePath: String,
                            next: StructType): Unit =
    commitMetadata(fsFor(spark, tablePath), new Path(tablePath),
      "alterDefault") { head =>
      val man = head.getOrElse(throw new IllegalArgumentException(
        s"replaceSchemaMetadata: no committed graft table at $tablePath"))
      val cur = man.schema.map(s =>
        DataType.fromJson(s).asInstanceOf[StructType]).getOrElse(
        throw new IllegalStateException(
          s"replaceSchemaMetadata: $tablePath records no schema"))
      require(cur.fieldNames.toSeq == next.fieldNames.toSeq,
        s"replaceSchemaMetadata: column set must not change " +
          s"(${cur.fieldNames.mkString(",")} vs " +
          s"${next.fieldNames.mkString(",")})")
      val metaByName = stripSchemaIds(next).fields
        .map(f => f.name -> f.metadata).toMap
      val merged = StructType(cur.fields.map(f =>
        f.copy(metadata = metaByName(f.name))))
      Some(man.copy(schema = Some(merged.json)))
    }

  /** ALTER TABLE DROP COLUMN as a METADATA-ONLY commit: the column
    * leaves the recorded schema (readers stop requesting it) while the
    * immutable files keep the bytes until natural rewrite (compaction /
    * merge) ages them out — Iceberg/Delta drop semantics. The freed id
    * is NEVER reused ([[Manifest.nextColId]]), so re-adding the same
    * name later reads NULL for pre-drop rows instead of resurrecting
    * the dropped data; the column's stats keys leave the manifest in
    * the same commit (a re-added namesake must not inherit stale
    * min/max and skip wrongly). Refuses, loudly: non-id-stamped tables
    * (the name is the only identity their files have), merge-key /
    * cluster / Bloom columns (load-bearing for layout), and the last
    * non-key column (a keyed table with no compared column has no
    * diffable content).
    */
  def dropColumn(spark: SparkSession, tablePath: String,
                 name: String): Unit =
    commitMetadata(fsFor(spark, tablePath), new Path(tablePath),
      "dropColumn") { head =>
      val man = head.getOrElse(throw new IllegalArgumentException(
        s"dropColumn: no committed graft table at $tablePath"))
      val cur = man.schema.map(s =>
        DataType.fromJson(s).asInstanceOf[StructType]).getOrElse(
        throw new IllegalStateException(
          s"dropColumn: $tablePath records no schema (pre-schema " +
            "manifest) — run one merge first"))
      require(man.nextColId > 0L,
        s"dropColumn: $tablePath predates field-id stamping — " +
          "migrate with a full rewrite (REPLACE TABLE / overwrite) " +
          "first")
      require(cur.fieldNames.contains(name),
        s"dropColumn: no column '$name' in $tablePath " +
          s"(columns: ${cur.fieldNames.mkString(", ")})")
      require(!man.keyCols.contains(name),
        s"dropColumn: '$name' is a merge key")
      man.checks.foreach { case (cn, sql) =>
        require(!checkPredicateColumns(spark, sql, cur)
            .exists(_.equalsIgnoreCase(name)),
          s"dropColumn: '$name' is referenced by CHECK constraint " +
            s"'$cn' CHECK ($sql) — drop the constraint first")
      }
      generatedReferences(spark, cur).foreach { case (gc, g, r) =>
        require(!r.equalsIgnoreCase(name),
          s"dropColumn: '$name' is referenced by generated column " +
            s"'$gc' GENERATED ALWAYS AS ($g) — drop '$gc' first")
      }
      val inCluster = man.clusterCols.exists { e =>
        e.indexOf(':') match {
          case -1 => e == name
          case i => e.substring(i + 1).split(',').map(_.trim)
            .contains(name)
        }
      }
      require(!inCluster, s"dropColumn: '$name' is a cluster column")
      require(!man.bloomCols.contains(name),
        s"dropColumn: '$name' is a Bloom-indexed column")
      require(cur.fields.exists(f =>
        f.name != name && !man.keyCols.contains(f.name)),
        s"dropColumn: '$name' is the last non-key column")
      val next = StructType(cur.fields.filterNot(_.name == name))
      // a dropped variant column takes its shred declarations (and
      // their hidden stats keys) with it — a later same-named
      // column must not inherit stale extraction stats
      val droppedShredKeys = man.shredCols.filter(_.column == name)
        .map(shredColName).toSet
      val stats2 = man.stats.map { case (b, fss) =>
        b -> fss.map(f => f.copy(
          mins = f.mins - name -- droppedShredKeys,
          maxs = f.maxs - name -- droppedShredKeys,
          nulls = f.nulls - name -- droppedShredKeys))
      }
      Some(man.copy(
        schema = Some(next.json), stats = stats2,
        colIds = man.colIds - name,
        colStats = man.colStats - name,
        colSketches = man.colSketches - name,
        idhw = man.idhw - name,
        colHists = man.colHists - name,
        shredCols = man.shredCols.filterNot(_.column == name)))
    }

  /** Operational introspection (Delta's DESCRIBE DETAIL): one row with
    * the table's current version, bucket count, live epoch count,
    * recorded schema DDL, retained versions, and txn-ledger size.
    */
  def describeTable(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val fs = fsFor(spark, tablePath)
    val retained = manifestFiles(fs, new Path(tablePath)).map(_._1)
    currentManifest(fs, new Path(tablePath)) match {
      case Some(m) =>
        Seq((m.version, m.buckets,
          (m.epochs.values.toSet ++ m.overlays.values.flatten).size,
          m.schema.map(s => DataType.fromJson(s).asInstanceOf[StructType]
            .toDDL).getOrElse(""),
          retained.mkString(","), m.txns.size,
          // from manifest stats alone — no listing (0/0 pre-stats)
          m.stats.values.map(_.size).sum,
          m.stats.values.flatMap(_.map(_.bytes)).sum,
          m.clusterCols.mkString(","), m.keyCols.mkString(","),
          // merge-on-read pressure: DV'd files / dead rows / overlay
          // epochs — what CALL gc.system.compact would drain
          m.stats.values.flatMap(_.filter(_.dv.nonEmpty)).size,
          m.stats.values.flatMap(_.map(_.dvn)).sum,
          m.overlays.values.map(_.size).sum,
          m.tags.toSeq.sortBy(_._1)
            .map { case (t, v) => s"$t=$v" }.mkString(",")))
          .toDF("version", "buckets", "live_epochs", "schema_ddl",
            "retained_versions", "n_txns", "n_files", "total_bytes",
            "cluster_cols", "key_cols", "dv_files", "dv_rows",
            "overlay_epochs", "tags")
      case None =>
        Seq.empty[(Long, Int, Int, String, String, Int, Int, Long,
            String, String, Int, Long, Int, String)]
          .toDF("version", "buckets", "live_epochs", "schema_ddl",
            "retained_versions", "n_txns", "n_files", "total_bytes",
            "cluster_cols", "key_cols", "dv_files", "dv_rows",
            "overlay_epochs", "tags")
    }
  }

  /** ANALYZE TABLE for the manifest protocol (Delta's `ANALYZE TABLE
    * ... COMPUTE STATISTICS FOR COLUMNS` / Iceberg's puffin NDV
    * sketches): ONE distributed pass over the live rows computes each
    * requested column's approximate NDV (HyperLogLog++ — the input
    * Spark's cost-based optimizer needs for join reordering and
    * selectivity), exact null count, avg/max byte length, and canonical
    * min/max, and records them in the manifest ([[Manifest.colStats]]).
    * The catalog scan reports them to Spark through
    * `estimateStatistics().columnStats()`, so with
    * `spark.sql.cbo.enabled` a graft table participates in cost-based
    * planning like a Hive table with fresh ANALYZE stats — at 100 TB,
    * join ORDER driven by real NDVs is routinely a 10-100× plan
    * difference. Stats are estimates by contract: later commits carry
    * them forward unchanged (Delta's behavior), `statsVersion` names
    * the analyzed version, and re-running ANALYZE refreshes. Default
    * columns = every top-level column of an eligible type.
    */
  // ---- INCREMENTAL COLUMN STATISTICS (HLL sketch union on commit) -----
  //
  // ANALYZE records a per-column DataSketches HLL alongside the ColStat
  // (Iceberg's puffin NDV sketches); every later data commit folds ONE
  // narrow agg over its written rows into the stored sketches — NDV,
  // min/max and statsVersion stay fresh without re-scanning the corpus
  // (Delta's stats-on-write shape). The sketch input domain is the
  // column CAST TO STRING on both the ANALYZE and the refresh side, so
  // unions always merge consistent hashes. HLL cannot subtract: after
  // deletes the NDV is an upper bound, which is the conservative
  // direction for join planning, and the serve-side drift gate
  // (statsRows ±20%) still bounds how far it can rot.

  private[sources] case class BatchColStats(
      sketches: Map[String, Array[Byte]],
      lo: Map[String, String],
      hi: Map[String, String])

  private def statsRangeable(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** One narrow agg job over the rows a commit writes: per sketched
    * column the batch's HLL bytes plus canonical min/max. Cost ∝
    * written rows × sketched columns — never ∝ corpus.
    */
  private def batchColStats(frame: DataFrame,
                            sketched: Set[String]): Option[BatchColStats] = {
    val cols = frame.schema.fields.filter(f => sketched.contains(f.name))
      .toSeq
    if (cols.isEmpty) return None
    val aggs = cols.flatMap { f =>
      Seq(hll_sketch_agg(col(f.name).cast("string"))
          .as(s"__sk_${f.name}")) ++
        (if (statsRangeable(f.dataType))
          Seq(min(col(f.name)).as(s"__lo_${f.name}"),
            max(col(f.name)).as(s"__hi_${f.name}"))
        else Seq.empty)
    }
    val row = frame.agg(aggs.head, aggs.tail: _*).collect()(0)
    def canon(f: StructField, which: String): String = {
      val i = row.fieldIndex(s"${which}_${f.name}")
      if (row.isNullAt(i)) ""
      else boundToCanon(f.dataType, row.get(i)).map(_._2.toString)
        .getOrElse("")
    }
    Some(BatchColStats(
      cols.map { f =>
        val i = row.fieldIndex(s"__sk_${f.name}")
        f.name -> (if (row.isNullAt(i)) Array.empty[Byte]
                   else row.getAs[Array[Byte]](i))
      }.toMap.filter(_._2.nonEmpty),
      cols.filter(f => statsRangeable(f.dataType))
        .map(f => f.name -> canon(f, "__lo")).toMap,
      cols.filter(f => statsRangeable(f.dataType))
        .map(f => f.name -> canon(f, "__hi")).toMap))
  }

  /** Driver-side HLL union of the stored sketch (if any) and a batch
    * sketch: returns the merged base64 plus its NDV estimate.
    */
  private def unionSketch(stored: Option[String],
                          batch: Option[Array[Byte]]): (String, Long) = {
    import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
    val u = new Union(12)
    stored.filter(_.nonEmpty).foreach(s =>
      u.update(HllSketch.heapify(java.util.Base64.getDecoder.decode(s))))
    batch.filter(_.nonEmpty).foreach(b => u.update(HllSketch.heapify(b)))
    val sk = u.getResult(TgtHllType.HLL_4)
    (java.util.Base64.getEncoder.encodeToString(sk.toCompactByteArray),
      math.round(sk.getEstimate))
  }

  /** Widen a canonical bound with the batch's (both numeric strings in
    * the canonical domain; "" = unknown keeps the other side).
    */
  private def widenCanon(stored: String, batch: String,
                         lower: Boolean): String =
    if (batch.isEmpty) stored
    else if (stored.isEmpty) batch
    else scala.util.Try {
      val a = BigDecimal(stored); val b = BigDecimal(batch)
      if (lower == (b < a)) batch else stored
    }.getOrElse(stored)

  /** Fold a commit's batch sketches into the manifest it is about to
    * publish: NDV = union estimate, min/max widened, `statsVersion` =
    * this commit's version, `statsRows` re-derived EXACTLY from the new
    * file inventory when every live file carries a row count (and
    * likewise per-column null counts when every live file records
    * them, DV-free); carried forward as the documented estimate
    * otherwise. No-op when the commit carries no batch stats.
    */
  private def withRefreshedStats(m: Manifest,
                                 batch: Option[BatchColStats]): Manifest =
    batch match {
      case None => m
      case Some(b) =>
        val liveFiles = m.stats.values.flatten.toSeq
        val exactRows: Option[Long] =
          if (liveFiles.nonEmpty && liveFiles.forall(_.rows >= 0L))
            Some(liveFiles.map(f => f.rows - f.dvn).sum)
          else None
        val sketches = scala.collection.mutable.Map.empty[String, String]
        val newStats = m.colStats.map { case (c, cs) =>
          val (sk, ndv) = unionSketch(m.colSketches.get(c),
            b.sketches.get(c))
          sketches(c) = sk
          val exactNulls =
            if (liveFiles.nonEmpty &&
                liveFiles.forall(f => f.dvn == 0L && f.nulls.contains(c)))
              Some(liveFiles.map(_.nulls(c)).sum)
            else None
          c -> cs.copy(
            ndv = if (b.sketches.contains(c) ||
              m.colSketches.contains(c)) ndv else cs.ndv,
            nulls = exactNulls.getOrElse(
              exactRows.fold(cs.nulls)(r => math.min(cs.nulls, r))),
            min = widenCanon(cs.min, b.lo.getOrElse(c, ""), lower = true),
            max = widenCanon(cs.max, b.hi.getOrElse(c, ""), lower = false))
        }
        m.copy(colStats = newStats,
          colSketches = m.colSketches ++ sketches,
          statsVersion = m.version,
          statsRows = exactRows.getOrElse(m.statsRows))
    }

  def analyzeTable(spark: SparkSession, tablePath: String,
                   columns: Seq[String] = Seq.empty): Map[String, ColStat] = {
    import org.apache.spark.sql.types._
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man0 = currentManifest(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"analyzeTable: $tablePath holds no committed graft table"))
    val schema = indexSchema(spark, tablePath, man0)
    def eligible(dt: DataType): Boolean = dt match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType |
           StringType | BinaryType | BooleanType => true
      case _ => false
    }
    val cols =
      if (columns.nonEmpty) columns
      else schema.fields.filter(f => eligible(f.dataType)).map(_.name).toSeq
    cols.foreach { c =>
      val f = schema.fields.find(_.name == c)
      require(f.isDefined, s"analyzeTable: column '$c' is not in the " +
        s"schema of $tablePath")
      require(eligible(f.get.dataType),
        s"analyzeTable: column '$c' has unsupported type " +
          f.get.dataType.simpleString)
    }
    val typeOf = schema.fields.map(f => f.name -> f.dataType).toMap
    def fixedLen(dt: DataType): Option[Long] = dt match {
      case BooleanType | ByteType => Some(1L)
      case ShortType => Some(2L)
      case IntegerType | FloatType | DateType => Some(4L)
      case LongType | DoubleType | TimestampType | TimestampNTZType =>
        Some(8L)
      case dtt: DecimalType => Some(dtt.defaultSize.toLong)
      case _ => None // strings/binary: measured below
    }
    def rangeable(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | TimestampNTZType => true
      case _ => false // Spark's ANALYZE records no string min/max either
    }
    // EQUI-HEIGHT HISTOGRAM sizing: bin-boundary percentiles ride the
    // SAME corpus pass as everything else; per-bin NDVs take one more
    // pass (below). 0 bins disables.
    val histBins = math.max(0,
      spark.conf.get("spark.graft.analyze.histogramBins", "32").toInt)
    // the column in the CANONICAL INTERNAL double domain (epoch days /
    // micros / numeric value) — the domain catalyst's estimator
    // compares filter literals in, so stored bin bounds match directly
    def histDouble(c: String): org.apache.spark.sql.Column = typeOf(c) match {
      case DateType => unix_date(col(c)).cast("double")
      case TimestampType => unix_micros(col(c)).cast("double")
      case TimestampNTZType =>
        // sessions run UTC (the canonical-domain convention): local
        // wall-clock micros == the same UTC instant's micros
        unix_micros(col(c).cast("timestamp")).cast("double")
      case _ => col(c).cast("double")
    }
    // aggregate over the PINNED version so the recorded statsVersion
    // names exactly the rows the stats were computed from (a concurrent
    // commit between the manifest read and the pass must not drift the
    // provenance)
    val t = readTableVersion(spark, tablePath, man0.version)
    val aggs = Seq(count(lit(1)).as("__rows")) ++ cols.flatMap { c =>
      val dt = typeOf(c)
      // NDV comes from the stored HLL sketch (cast-to-string domain —
      // the SAME domain every later commit's refresh unions into, so
      // the estimate never jumps estimator mid-lineage)
      Seq(hll_sketch_agg(col(c).cast("string")).as(s"__sk_$c"),
        count(col(c)).as(s"__nn_$c")) ++
        (if (fixedLen(dt).isEmpty)
          Seq(avg(octet_length(col(c).cast("string"))).as(s"__avg_$c"),
            max(octet_length(col(c).cast("string"))).as(s"__max_$c"))
        else Seq.empty) ++
        (if (rangeable(dt))
          Seq(min(col(c)).as(s"__lo_$c"), max(col(c)).as(s"__hi_$c"))
        else Seq.empty) ++
        (if (rangeable(dt) && histBins > 0)
          Seq(percentile_approx(histDouble(c),
            typedlit((0 to histBins).map(_.toDouble / histBins)),
            lit(10000)).as(s"__pct_$c"))
        else Seq.empty)
    }
    val row = t.agg(aggs.head, aggs.tail: _*).collect()(0)
    val rows = row.getAs[Long]("__rows")
    // per-bin NDVs: ONE more corpus pass through Spark's own
    // ApproxCountDistinctForIntervals (the aggregate vanilla ANALYZE's
    // histogram path uses — one HLL per interval in a single scan).
    // Total: 2 scans per ANALYZE, one fewer than vanilla's 3 (its
    // percentile pass is fused into this pass 1). Duplicate endpoints
    // (heavy hitters spanning bins) are kept, exactly as Spark keeps
    // them — a bin with lo == hi IS the skew signal.
    val histOf: Map[String, String] = {
      val endpoints = cols.flatMap { c =>
        if (!rangeable(typeOf(c)) || histBins <= 0) None
        else {
          val i = row.fieldIndex(s"__pct_$c")
          if (row.isNullAt(i)) None
          else Option(row.getSeq[Double](i).toArray).filter(_.length >= 2)
            .map(c -> _)
        }
      }
      if (endpoints.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.GraftColumnShim.{column, expression}
        import org.apache.spark.sql.catalyst.expressions.{CreateArray,
          Literal}
        import org.apache.spark.sql.catalyst.expressions.aggregate
          .ApproxCountDistinctForIntervals
        val aggs2 = endpoints.map { case (c, eps) =>
          column(new ApproxCountDistinctForIntervals(
            expression(histDouble(c)),
            CreateArray(eps.toIndexedSeq.map(e => Literal(e))),
            0.05, 0, 0).toAggregateExpression()).as(s"__hist_$c")
        }
        val row2 = t.agg(aggs2.head, aggs2.tail: _*).collect()(0)
        endpoints.flatMap { case (c, eps) =>
          val i = row2.fieldIndex(s"__hist_$c")
          if (row2.isNullAt(i)) None
          else {
            val ndvs = row2.getSeq[Long](i)
            val nBins = eps.length - 1
            val height =
              row.getAs[Long](s"__nn_$c").toDouble / nBins
            Some(c -> (height.toString + "|" +
              (0 until nBins).map(b =>
                s"${eps(b)},${eps(b + 1)},${ndvs(b)}").mkString(";")))
          }
        }.toMap
      }
    }
    def canon(c: String, field: String): String = {
      val i = row.fieldIndex(s"${field}_$c")
      if (row.isNullAt(i)) ""
      else boundToCanon(typeOf(c), row.get(i)).map(_._2.toString)
        .getOrElse("")
    }
    val sketchOf: Map[String, String] = cols.flatMap { c =>
      val i = row.fieldIndex(s"__sk_$c")
      if (row.isNullAt(i)) None
      else Some(c -> java.util.Base64.getEncoder
        .encodeToString(row.getAs[Array[Byte]](i)))
    }.toMap
    val computed = cols.map { c =>
      val dt = typeOf(c)
      val (avgL, maxL) = fixedLen(dt) match {
        case Some(n) => (n, n)
        case None =>
          val ai = row.fieldIndex(s"__avg_$c")
          val mi = row.fieldIndex(s"__max_$c")
          (if (row.isNullAt(ai)) 0L
           else math.round(row.getAs[Double](s"__avg_$c")),
            if (row.isNullAt(mi)) 0L
            else row.getAs[Int](s"__max_$c").toLong)
      }
      val (lo, hi) =
        if (rangeable(dt)) (canon(c, "__lo"), canon(c, "__hi"))
        else ("", "")
      c -> ColStat(unionSketch(sketchOf.get(c), None)._2,
        rows - row.getAs[Long](s"__nn_$c"), avgL, maxL, lo, hi)
    }.toMap
    // metadata-only commit with the usual bounded rebase: losing the
    // version CAS to a concurrent merge just means the stats are one
    // commit staler than the head — still the estimates they claim to be
    commitMetadata(fs, dir, "analyze")(_.map(_.copy(colStats = computed,
      statsVersion = man0.version, statsRows = rows,
      colSketches = sketchOf, colHists = histOf)))
    computed
  }

  /** Commit history over the RETAINED manifest window (Delta's
    * DESCRIBE HISTORY, bounded by [[KeepManifests]] exactly as Delta's
    * is by its log retention): one row per retained version — the
    * operation that wrote it, its wall-clock commit time, and the
    * resulting file count/bytes from the manifest's own stats (no
    * listing). Pre-commitInfo versions show an empty op and a null
    * timestamp. Newest first.
    */
  def tableHistory(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val fs = fsFor(spark, tablePath)
    val all = manifestFiles(fs, new Path(tablePath))
    // tags live in the CURRENT manifest; each history row lists the
    // tags naming it (Iceberg's refs view, folded into history)
    val curTags: Map[Long, Seq[String]] = all.lastOption
      .map { case (v, p) => readManifest(fs, v, p).tags }
      .getOrElse(Map.empty)
      .groupBy(_._2).map { case (v, ts) => v -> ts.keys.toSeq.sorted }
    all.reverse
      .map { case (v, p) => readManifest(fs, v, p) }
      .map { m =>
        (m.version, if (m.op.isEmpty) null else m.op,
          if (m.opTs == 0L) null
          else new java.sql.Timestamp(m.opTs),
          m.buckets,
          // base + merge-on-read overlay epochs — the same live_epochs
          // definition describeTable reports
          (m.epochs.values.toSet ++ m.overlays.values.flatten).size,
          m.stats.values.map(_.size).sum,
          m.stats.values.flatMap(_.map(_.bytes)).sum,
          m.txns.size,
          curTags.get(m.version).map(_.mkString(",")).orNull)
      }
      .toDF("version", "op", "commit_ts", "buckets", "live_epochs",
        "n_files", "total_bytes", "n_txns", "tags")
  }

  /** Per-file physical inventory of the CURRENT version (Iceberg's
    * `t.files`): one row per live data file, straight from the
    * manifest's stats records — no listing, no file I/O. The
    * operational debugging surface for merge-on-read pressure: which
    * buckets carry deletion vectors or overlay epochs, file sizes and
    * live-row counts, stats coverage. `rows`/`live_rows` are null for
    * files committed before row counts were recorded (the legacy -1
    * sentinel). Manifest-sized by contract, like `t.history`.
    */
  def tableFiles(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val man = currentManifest(fsFor(spark, tablePath), new Path(tablePath))
      .getOrElse(throw new IllegalArgumentException(
        s"tableFiles: $tablePath holds no committed graft table"))
    val rows = man.epochs.keys.toSeq.sorted.flatMap { b =>
      val base = man.epochs(b)
      val fss = man.stats.getOrElse(b, Seq.empty)
      if (fss.isEmpty)
        // pre-stats legacy bucket: the manifest knows the epoch exists
        // but records no per-file entries — surface ONE sentinel row
        // (file = null) instead of silently under-reporting the bucket
        Seq((b, base, Option.empty[String], Option.empty[Long],
          Option.empty[Long], Option.empty[Long], Option.empty[String],
          0L, false, 0, false))
      else fss.map { f =>
        val e = fileEpoch(man, b, f)
        // live equality deletes kill an unresolved number of this
        // file's rows — live_rows goes honestly unknown until a
        // rewrite resolves (physical `rows` stays exact)
        val eqdLive = applicableEqds(man, b, e).nonEmpty
        (b, e, Some(f.name), Some(f.bytes),
          if (f.rows < 0L) None else Some(f.rows),
          if (f.rows < 0L || eqdLive) None else Some(f.rows - f.dvn),
          if (f.dv.isEmpty) None else Some(f.dv), f.dvn,
          e != base, f.mins.size, f.fp.nonEmpty)
      }
    }
    val cols = Seq("bucket", "epoch", "file", "bytes", "rows",
      "live_rows", "dv", "dv_dead", "overlay", "stats_cols",
      "fingerprinted")
    // manifest-sized tables stay a driver-local relation (one plan
    // step, no job); past the threshold the inventory parallelizes so
    // a downstream join (files × query logs at ~400k files / 100 TB)
    // runs distributed instead of funneling through the driver —
    // Iceberg serves its metadata tables as distributed scans for the
    // same reason
    if (rows.length <= localMetadataRows(spark)) rows.toDF(cols: _*)
    else spark.sparkContext.parallelize(rows,
      math.max(1, math.min(rows.length / 1024,
        spark.sparkContext.defaultParallelism))).toDF(cols: _*)
  }

  /** Row threshold under which a metadata table serves as a driver-
    * local relation; above it the frame parallelizes and the catalog
    * sub-table plans a distributed scan
    * (`spark.graft.metadata.localRows`, default 4096).
    */
  private def localMetadataRows(spark: SparkSession): Int =
    spark.conf.getOption("spark.graft.metadata.localRows")
      .map(_.toInt).getOrElse(4096)

  /** Per-BUCKET physical rollup (Iceberg's `t.partitions` shape for the
    * key-hash layout): one row per live bucket — base epoch, file and
    * overlay-file counts, bytes, physical/live rows, DV'd dead rows,
    * and MoR pressure (overlay epochs stacked on the base). The
    * operator's "which buckets need compaction" view, manifest-sized.
    */
  def tablePartitions(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val man = currentManifest(fsFor(spark, tablePath), new Path(tablePath))
      .getOrElse(throw new IllegalArgumentException(
        s"tablePartitions: $tablePath holds no committed graft table"))
    val rows = man.epochs.keys.toSeq.sorted.map { b =>
      val base = man.epochs(b)
      val fss = man.stats.getOrElse(b, Seq.empty)
      val overlayEpochs = man.overlays.getOrElse(b, Seq.empty)
      val known = fss.forall(_.rows >= 0L) && fss.nonEmpty
      // live equality deletes kill an unresolved number of stored rows
      // — physical row counts stay exact, live counts go unknown until
      // compaction resolves
      val eqdLive = man.eqds.get(b).exists(_.nonEmpty)
      (b, base, fss.size,
        fss.count(f => fileEpoch(man, b, f) != base),
        fss.map(_.bytes).sum,
        if (known) Some(fss.map(_.rows).sum) else None,
        if (known && !eqdLive) Some(fss.map(f => f.rows - f.dvn).sum)
        else None,
        fss.map(_.dvn).sum, overlayEpochs.size)
    }
    val cols = Seq("bucket", "base_epoch", "n_files", "overlay_files",
      "bytes", "rows", "live_rows", "dv_dead", "overlay_epochs")
    // same local-vs-distributed dispatch as [[tableFiles]]
    if (rows.length <= localMetadataRows(spark)) rows.toDF(cols: _*)
    else spark.sparkContext.parallelize(rows,
      math.max(1, math.min(rows.length / 1024,
        spark.sparkContext.defaultParallelism))).toDF(cols: _*)
  }

  /** Live staging branches (Iceberg's refs view, branch half): one row
    * per branch — fork version, staged head, staged commit count, the
    * head's op and commit time. Empty when nothing is staged.
    */
  def tableBranches(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    branchManifestFiles(fs, dir).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (name, files) =>
        val (_, k, p) = files.maxBy(_._2)
        val head = readManifest(fs, k, p)
        (name, head.branchBase, k, k - head.branchBase,
          if (head.op.isEmpty) null else head.op,
          if (head.opTs == 0L) null else new java.sql.Timestamp(head.opTs))
      }
      .toDF("branch", "base_version", "head_version", "staged_commits",
        "head_op", "head_ts")
  }


  /** Within-bucket cluster sort shared by every epoch write. A cluster
    * entry is a plain column name (1-D linear clustering), or
    * `zorder2:a,b` — the Morton interleave of two columns
    * ([[graft.functions.ZOrder]]; Delta's OPTIMIZE ZORDER BY): each
    * file then covers a small rectangle of the (a, b) space, so
    * per-file stats prune range reads on EITHER column, where a linear
    * sort only narrows its first column. Layout-only: ordering never
    * affects results, so normalizations below just need to preserve
    * each input's order.
    */
  private def clusterSort(df: DataFrame, clusterCols: Seq[String]): DataFrame =
    if (clusterCols.isEmpty) df
    else df.sortWithinPartitions(
      col(BucketCol) +: clusterCols.flatMap(clusterSortCols(df, _)): _*)

  private def clusterSortCols(df: DataFrame,
                              spec: String): Seq[org.apache.spark.sql.Column] =
    if (spec.startsWith("zorder2:")) {
      val parts = spec.stripPrefix("zorder2:").split(",")
      require(parts.length == 2,
        s"clusterBy: malformed '$spec' (want zorder2:colA,colB)")
      graft.functions.ZOrder.zorder2(
        orderedLong(df, parts(0).trim), orderedLong(df, parts(1).trim))
    } else if (spec.startsWith("zorderN:")) {
      val parts = spec.stripPrefix("zorderN:").split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq
      require(parts.length >= 2,
        s"clusterBy: malformed '$spec' (want zorderN:colA,colB,colC,...)")
      graft.functions.ZOrder.zorderN(parts.map(orderedLong(df, _)))
    } else Seq(col(spec))

  /** Order-preserving long image of a column for Z-ordering. */
  private def orderedLong(df: DataFrame, name: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    df.schema(name).dataType match {
      case DateType => unix_date(col(name)).cast("long")
      case TimestampType => col(name).cast("long") // epoch seconds
      case TimestampNTZType => col(name).cast("timestamp").cast("long")
      case _ => col(name).cast("long")
    }
  }

  private[sources] def bucketPath(tablePath: String, epoch: String,
                                  bucket: Int): String =
    s"$tablePath/$epoch/$BucketCol=$bucket"

  /** How many leading columns get per-file min/max recorded — Delta's
    * `dataSkippingNumIndexedCols` default. Stats JSON stays bounded for
    * wide tables; columns past the cap simply never prune.
    */
  val StatsMaxCols = 32

  /** Canonical min/max of one column chunk from its footer statistics:
    * `('L', Long)` for integral / date-days / timestamp (normalized to
    * micros), `('D', Double)` for float/double, `('S', String)` for
    * UTF-8 strings. Outer None = stats unusable for the file (drop the
    * column); Some(None) = all-null chunk (contributes nothing, but the
    * other chunks' range stays valid — a range predicate never selects
    * null rows anyway).
    */
  private def canonMinMax(
      cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[Option[(Char, Any, Any)]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val st = cc.getStatistics
    if (st == null) None
    else if (!st.hasNonNullValue) {
      if (st.isNumNullsSet && st.getNumNulls > 0) Some(None) else None
    } else {
      def asLong(v: Any): Long = v.asInstanceOf[Number].longValue()
      def asDouble(v: Any): Double = v.asInstanceOf[Number].doubleValue()
      val pt = cc.getPrimitiveType
      val ann = pt.getLogicalTypeAnnotation
      val mn = st.genericGetMin; val mx = st.genericGetMax
      pt.getPrimitiveTypeName match {
        case INT32 => ann match {
          case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => None
          case _ => Some(Some(('L', asLong(mn), asLong(mx))))
        }
        case INT64 => ann match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            val u = t.getUnit
            def micros(v: Long): Long =
              if (u == LogicalTypeAnnotation.TimeUnit.MILLIS) v * 1000L
              else if (u == LogicalTypeAnnotation.TimeUnit.NANOS) v / 1000L
              else v
            Some(Some(('L', micros(asLong(mn)), micros(asLong(mx)))))
          case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => None
          case _ => Some(Some(('L', asLong(mn), asLong(mx))))
        }
        case FLOAT | DOUBLE => Some(Some(('D', asDouble(mn), asDouble(mx))))
        case BINARY
            if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
          Some(Some(('S',
            mn.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
            mx.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)))
        case _ => None
      }
    }
  }

  private def cmpTagged(tag: Char, a: Any, b: Any): Int = tag match {
    case 'L' => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case 'D' => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case _ => cmpUtf8(a.asInstanceOf[String], b.asInstanceOf[String])
  }

  /** Unsigned UTF-8 byte order — the order parquet footer min/max and
    * Spark's `UTF8String` use (identical to code-point order). Java's
    * `String.compareTo` is UTF-16 code-UNIT order, which disagrees for
    * strings mixing non-BMP code points with U+E000..U+FFFF — comparing
    * stats bounds with it could wrongly skip files.
    */
  private def cmpUtf8(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Per-file column stats of a just-written epoch, straight from the
    * parquet FOOTERS (no second pass over the data): per bucket file —
    * size, rows, and canonical min/max for the first [[StatsMaxCols]]
    * eligible top-level columns. O(written files) driver-side metadata
    * reads, bounded by the touched-bucket set of the commit it rides.
    */
  private def collectFileStats(fs: FileSystem, epochRoot: Path,
                               withColumnStats: Boolean,
                               // always-kept columns, exempt from the
                               // cap and recorded even on unclustered
                               // tables: the hidden shred columns —
                               // the user DECLARED probe interest in
                               // them, and trickle-appended files are
                               // naturally value-clustered even when
                               // the table isn't
                               priorityCols: Set[String] = Set.empty)
      : Map[Int, Seq[FileStat]] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    if (!fs.exists(epochRoot)) return Map.empty
    // column min/max only earn their keep on a CLUSTERED table — an
    // unclustered hash bucket's files span the full value range of
    // every column, so no range or point read could ever skip them.
    // Unclustered tables still record exact ROW counts (one concurrent
    // footer metadata read per written file, bounded by the commit's
    // touched buckets — Delta's numRecords baseline): the scan reports
    // them to the planner (estimateStatistics), and broadcast-vs-
    // shuffle decisions at 100 TB key off row counts, not min/max.
    if (!withColumnStats && priorityCols.isEmpty) {
      implicit val ec: ExecutionContext = ExecutionContext.global
      val perBucket = fs.listStatus(epochRoot).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(BucketCol + "="))
        .flatMap { bdir =>
          scala.util.Try(
            bdir.getPath.getName.stripPrefix(BucketCol + "=").toInt
          ).toOption.map { b =>
            b -> fs.listStatus(bdir.getPath).toSeq
              .filter(f => !f.isDirectory &&
                f.getPath.getName.endsWith(".parquet"))
              .map { f => Future {
                val reader = ParquetFileReader.open(
                  HadoopInputFile.fromStatus(f, fs.getConf))
                val rows =
                  try {
                    var n = 0L
                    reader.getFooter.getBlocks.forEach(b =>
                      n += b.getRowCount)
                    n
                  } finally reader.close()
                FileStat(f.getPath.getName, f.getLen, rows,
                  Map.empty, Map.empty)
              } }
          }
        }
      return perBucket.map { case (b, futures) =>
        b -> futures.map(Await.result(_, Duration.Inf))
      }.toMap
    }
    // footer reads are independent small metadata I/Os — do them
    // concurrently (a commit touching many bucket files would otherwise
    // serialize hundreds of reads on the driver; Delta distributes its
    // stats collection for the same reason)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val perBucket = fs.listStatus(epochRoot).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(BucketCol + "="))
      .flatMap { bdir =>
        scala.util.Try(
          bdir.getPath.getName.stripPrefix(BucketCol + "=").toInt
        ).toOption.map { b =>
          val files = fs.listStatus(bdir.getPath).toSeq
            .filter(f => !f.isDirectory && f.getPath.getName.endsWith(".parquet"))
          b -> files.map { f => Future {
            val reader = ParquetFileReader.open(
              HadoopInputFile.fromStatus(f, fs.getConf))
            try {
              val footer = reader.getFooter
              var rows = 0L
              // insertion order = parquet schema order, so the cap below
              // takes the schema's LEADING columns, like Delta's
              val acc = scala.collection.mutable.LinkedHashMap
                .empty[String, (Char, Any, Any)]
              val dropped = scala.collection.mutable.Set.empty[String]
              // null COUNTS are independent of min/max usability: a
              // column whose range can't canonicalize (or is all-null)
              // still prunes IS [NOT] NULL probes if every chunk
              // reports its null count
              val nullAcc = scala.collection.mutable.LinkedHashMap
                .empty[String, Long]
              val nullDropped = scala.collection.mutable.Set.empty[String]
              footer.getBlocks.forEach { blk =>
                rows += blk.getRowCount
                blk.getColumns.forEach { cc =>
                  val path = cc.getPath.toDotString
                  // a shred-only collection (unclustered table with
                  // declared shred paths) tracks just the priority set
                  val tracked = withColumnStats || priorityCols(path)
                  // top-level primitives only (a nested field's range
                  // can't anchor a top-level column predicate)
                  if (!path.contains('.') && tracked) {
                    val st = cc.getStatistics
                    if (st != null && st.isNumNullsSet && !nullDropped(path))
                      nullAcc(path) = nullAcc.getOrElse(path, 0L) +
                        st.getNumNulls
                    else { nullDropped += path; nullAcc.remove(path) }
                  }
                  if (!path.contains('.') && tracked && !dropped(path)) {
                    canonMinMax(cc) match {
                      case Some(Some((tag, mn, mx))) => acc.get(path) match {
                        case Some((t0, m0, x0)) if t0 == tag =>
                          acc(path) = (tag,
                            if (cmpTagged(tag, mn, m0) < 0) mn else m0,
                            if (cmpTagged(tag, mx, x0) > 0) mx else x0)
                        case Some(_) => dropped += path; acc.remove(path)
                        case None => acc(path) = (tag, mn, mx)
                      }
                      case Some(None) => () // all-null chunk
                      case None => dropped += path; acc.remove(path)
                    }
                  }
                }
              }
              // priority columns are exempt from the cap (they sit at
              // the END of the physical schema, where a naive leading-
              // columns cap would silently drop them on a wide table)
              val kept = acc.filter(p => priorityCols(p._1)) ++
                acc.filterNot(p => priorityCols(p._1)).take(StatsMaxCols)
              val keptNulls = nullAcc.filter(p => priorityCols(p._1)) ++
                nullAcc.filterNot(p => priorityCols(p._1)).take(StatsMaxCols)
              FileStat(f.getPath.getName, f.getLen, rows,
                kept.map { case (c, (_, mn, _)) => c -> mn.toString }.toMap,
                kept.map { case (c, (_, _, mx)) => c -> mx.toString }.toMap,
                keptNulls.toMap)
            } finally reader.close()
          } }
        }
      }
    perBucket.map { case (b, futures) =>
      b -> futures.map(Await.result(_, Duration.Inf))
    }.toMap
  }

  /** The types whose bounds canonicalize into the stats domain
    * ([[boundToCanon]]/[[canonMinMax]]) — the eligibility test for a
    * shred declaration (a type outside this set could never prune).
    */
  private[sources] def statsCanonType(dt: DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | FloatType | DoubleType |
           StringType => true
      case _ => false
    }
  }

  /** Convert a caller-supplied range bound into the canonical stats
    * domain of the column's Spark type (see [[FileStat]]). None = the
    * bound (or type) isn't canonicalizable — skipping is silently
    * disabled and the residual filter alone applies, never wrong
    * results.
    */
  private def boundToCanon(dt: DataType, v: Any): Option[(Char, Any)] = {
    import org.apache.spark.sql.types._
    def micros(i: java.time.Instant): Long =
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    dt match {
      case ByteType | ShortType | IntegerType | LongType => v match {
        case n: Number => Some(('L', n.longValue()))
        case s: String => scala.util.Try(('L', s.toLong: Any)).toOption
        case _ => None
      }
      case DateType => v match {
        case d: java.sql.Date => Some(('L', d.toLocalDate.toEpochDay))
        case d: java.time.LocalDate => Some(('L', d.toEpochDay))
        case s: String => scala.util.Try(
          ('L', java.time.LocalDate.parse(s).toEpochDay: Any)).toOption
        case n: Number => Some(('L', n.longValue()))
        case _ => None
      }
      case TimestampType | TimestampNTZType => v match {
        case t: java.sql.Timestamp => Some(('L', micros(t.toInstant)))
        case i: java.time.Instant => Some(('L', micros(i)))
        case d: java.time.LocalDateTime =>
          // NTZ micros are "local wall-clock since epoch" — exactly the
          // UTC instant of the same local fields (sessions run UTC)
          Some(('L', micros(d.toInstant(java.time.ZoneOffset.UTC))))
        case s: String => scala.util.Try {
          val t = s.replace(' ', 'T')
          val ldt = scala.util.Try(java.time.LocalDateTime.parse(t))
            .getOrElse(java.time.LocalDate.parse(t).atStartOfDay())
          ('L', micros(ldt.toInstant(java.time.ZoneOffset.UTC)): Any)
        }.toOption
        case n: Number => Some(('L', n.longValue()))
        case _ => None
      }
      case FloatType | DoubleType => v match {
        case n: Number => Some(('D', n.doubleValue()))
        case s: String => scala.util.Try(('D', s.toDouble: Any)).toOption
        case _ => None
      }
      case StringType => v match {
        case s: String => Some(('S', s))
        case _ => None
      }
      case _ => None
    }
  }

  /** File-level skip decision: keep the file unless its recorded range
    * provably misses [lower, upper]. A file with no recorded stats for
    * the column is always kept (skipping must only ever REMOVE provably
    * irrelevant I/O).
    */
  private def fileIntersects(fileStat: FileStat, column: String,
                             lo: Option[(Char, Any)],
                             hi: Option[(Char, Any)]): Boolean = {
    def parse(tag: Char, s: String): Any = tag match {
      case 'L' => s.toLong
      case 'D' => s.toDouble
      case _ => s
    }
    val belowLo = lo.exists { case (tag, bound) =>
      fileStat.maxs.get(column).exists(mx =>
        cmpTagged(tag, parse(tag, mx), bound) < 0)
    }
    val aboveHi = hi.exists { case (tag, bound) =>
      fileStat.mins.get(column).exists(mn =>
        cmpTagged(tag, parse(tag, mn), bound) > 0)
    }
    !belowLo && !aboveHi
  }

  /** Bloom-supported column types: values canonicalize to a long or a
    * string put. Writer and prober both go through [[boundToCanon]]'s
    * canonical domain, so they agree bit-for-bit on every type (dates
    * put their epoch-day, timestamps their UTC micros). Floats are out:
    * equality probes on floating point are ill-defined anyway.
    */
  private def bloomPutKind(dt: DataType): Option[Char] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => Some('L')
      case StringType => Some('S')
      case _ => None
    }
  }

  /** Compute and stage the per-file Bloom sidecar of a just-written
    * (still-uncommitted) epoch — one distributed pass over the epoch's
    * files, bounded by the touched-bucket set of the commit it rides,
    * exactly like the footer-stats read. Each scan task builds partial
    * filters per (file, column) it sees; the driver ORs partials of the
    * same file (a file split across input partitions yields compatible
    * filters — identical `bloomItems` sizing). The sidecar lands INSIDE
    * the epoch directory before the manifest commit, so it becomes
    * visible atomically with its data and is reclaimed with it by gc.
    */
  private def writeBloomSidecar(spark: SparkSession, fs: FileSystem,
                                epochRoot: String, bloomCols: Seq[String],
                                bloomItems: Long,
                                schemaJson: Option[String],
                                // shred declarations ride the sidecar
                                // too: their hidden columns exist
                                // physically in this epoch's files but
                                // not in the table schema, so their
                                // (name, type) pairs come from the
                                // declaration, not the schema
                                shred: Seq[ShredSpec] = Seq.empty): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    val full = schemaJson.map(s =>
      DataType.fromJson(s).asInstanceOf[StructType])
    val shredKinds: Seq[(String, DataType)] = shred
      .map(s => (shredColName(s), s.dataType))
      .filter { case (_, dt) => bloomPutKind(dt).isDefined }
    val base = full match {
      case Some(s) =>
        val sub = StructType(
          s.fields.filter(f => bloomCols.contains(f.name)) ++
            shredKinds.map { case (n, dt) =>
              org.apache.spark.sql.types.StructField(n, dt) })
        if (sub.isEmpty) return
        spark.read.schema(sub).parquet(epochRoot)
      case None => // legacy pre-schema manifest: one bounded footer merge
        spark.read.option("mergeSchema", "true").parquet(epochRoot)
    }
    val kinds: Seq[(String, DataType)] = bloomCols.flatMap { c =>
      base.schema.fields.find(_.name == c)
        .filter(f => bloomPutKind(f.dataType).isDefined)
        .map(f => (c, f.dataType))
    } ++ shredKinds.filter(k => base.schema.fieldNames.contains(k._1))
    if (kinds.isEmpty) return
    val sel = base.select(
      org.apache.spark.sql.functions.input_file_name().as("__file") +:
        kinds.map { case (c, _) => col(c) }: _*)
    val n = kinds.size
    val items = bloomItems
    val partial: Array[(String, Int, Array[Byte])] =
      sel.rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[String, Array[BloomFilter]]
        it.foreach { row =>
          val file = row.getString(0)
          val bfs = acc.getOrElseUpdate(file,
            Array.fill(n)(BloomFilter.create(items)))
          var i = 0
          while (i < n) {
            val v = row.get(i + 1)
            if (v != null) boundToCanon(kinds(i)._2, v) match {
              case Some(('L', cv)) => bfs(i).putLong(cv.asInstanceOf[Long])
              case Some(('S', cv)) => bfs(i).putString(cv.asInstanceOf[String])
              case _ => ()
            }
            i += 1
          }
        }
        acc.iterator.flatMap { case (f, bfs) =>
          (0 until n).iterator.map { i =>
            val bos = new java.io.ByteArrayOutputStream()
            bfs(i).writeTo(bos)
            (f, i, bos.toByteArray)
          }
        }
      }.collect()
    // driver merge: OR the partial filters of files that spanned input
    // partitions; key files as "<__bucket=N>/<name>" — the same identity
    // the manifest's FileStat rows use, qualified by their bucket dir
    val merged = scala.collection.mutable.LinkedHashMap
      .empty[(String, Int), BloomFilter]
    partial.foreach { case (file, i, bytes) =>
      val segs = file.split('/')
      val key = (segs.takeRight(2).mkString("/"), i)
      val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
      merged.get(key) match {
        case Some(m0) => m0.mergeInPlace(bf); ()
        case None => merged(key) = bf
      }
    }
    val b64 = java.util.Base64.getEncoder
    val body = new StringBuilder().append("{")
    var first = true
    merged.toSeq.groupBy(_._1._1).toSeq.sortBy(_._1).foreach {
      case (fileKey, entries) =>
        if (!first) body.append(","); first = false
        body.append(jsonStr(fileKey)).append(":{")
        body.append(entries.sortBy(_._1._2).map { case ((_, i), bf) =>
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          jsonStr(kinds(i)._1) + ":" +
            jsonStr(b64.encodeToString(bos.toByteArray))
        }.mkString(","))
        body.append("}")
    }
    body.append("}")
    val out = fs.create(new Path(epochRoot, BloomSidecar), false)
    try out.write(body.toString().getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Declare Bloom columns on an EXISTING table and build the sidecars
    * for its committed epochs (Delta's "create a Bloom filter index on
    * existing data"): one distributed pass over the LIVE epochs writes
    * each missing `_blooms.json` — additive metadata inside immutable
    * epoch dirs, invisible until the manifest commit that records
    * `bloomcols` publishes the declaration. From then on every epoch
    * write maintains the index like a creation-time `bloomBy`. Fails
    * loudly if the table already declares different Bloom columns
    * (rebuild = truncate the declaration story, not silently fork it);
    * re-running with the same columns only fills epochs that lack a
    * sidecar (crash-resumable).
    */
  /** Declare SHREDDED VARIANT PATHS on an EXISTING table (the
    * retrofit face of the CREATE-time `shred` property — what
    * [[buildBloomIndex]] is to `bloomBy`): validate the entries
    * against the recorded schema and commit the declaration. Hidden
    * columns live in immutable files, so the declaration alone makes
    * every FUTURE epoch write materialize them (and prune); files
    * written BEFORE it record no stats under the hidden names and are
    * never pruned — sound, just unindexed — until natural rewrite or
    * the optional `rewrite = true`, which compacts the table once to
    * materialize the columns everywhere. Note the honest limit of the
    * rewrite: compaction folds a bucket's batches into shared files,
    * so its immediate pruning value depends on within-file value
    * locality (clusterBy correlation); trickle epochs written AFTER
    * the declaration prune regardless (the shred14 shape).
    *
    * Evolution is ADDITIVE: entries canonically equal to recorded
    * declarations (same column, path, and PARSED type — DDL spelling,
    * case and spacing are irrelevant) no-op; genuinely new entries
    * merge into the declaration, so a hot path can be added to a
    * populated table without a rebuild. Old files simply record no
    * stats under the new hidden name and never prune on it
    * (stats-absent is the ordinary conservative case) until natural
    * rewrite or `rewrite = true`. Removing or retyping a recorded
    * entry still requires drop/recreate — the values live in
    * immutable files.
    */
  def buildShredIndex(spark: SparkSession, tablePath: String,
                      entries: Seq[String],
                      rewrite: Boolean = false): Unit = {
    require(entries.nonEmpty, "buildShredIndex requires at least one entry")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man =>
      val schema = man.schema.map(s =>
        DataType.fromJson(s).asInstanceOf[StructType]).getOrElse(
        throw new IllegalStateException(
          s"buildShredIndex: $tablePath records no schema"))
      val shred = parseShredProperty(entries, stripSchemaIds(schema))
      validateShred(stripSchemaIds(schema), shred, "buildShredIndex")
      // canonical identity: DDL spelling differences ('STRING' vs
      // 'string', spacing) must not fail an idempotent re-declaration
      def canon(s: ShredSpec): (String, String, DataType) =
        (s.column, s.path, s.dataType)
      val have = man.shredCols.map(canon).toSet
      val fresh = shred.filterNot(s => have.contains(canon(s)))
      if (fresh.nonEmpty) {
        val merged = man.shredCols ++ fresh
        validateShred(stripSchemaIds(schema), merged, "buildShredIndex")
        commitOrConflict(fs, dir,
          man.copy(version = man.version + 1, shredCols = merged,
            op = "buildShredIndex", opTs = System.currentTimeMillis()),
          "buildShredIndex")
      }
      if (rewrite) compact(spark, tablePath)
    }
  }

  def buildBloomIndex(spark: SparkSession, tablePath: String,
                      bloomBy: Seq[String],
                      bloomItems: Long = DefaultBloomItems): Unit = {
    require(bloomBy.nonEmpty, "buildBloomIndex requires at least one column")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man =>
      require(man.bloomCols.isEmpty || man.bloomCols == bloomBy,
        s"buildBloomIndex: table already declares Bloom columns " +
          s"${man.bloomCols.mkString("(", ",", ")")} — drop/recreate the " +
          "table to change the declaration")
      val schema = man.schema.map(s =>
        DataType.fromJson(s).asInstanceOf[StructType])
      bloomBy.foreach { c =>
        val f = schema.flatMap(_.fields.find(_.name == c))
        require(f.isDefined && bloomPutKind(f.get.dataType).isDefined,
          s"buildBloomIndex: column '$c' missing or of unsupported type")
      }
      // overlay epochs (merge-on-read upserts) need sidecars too — a
      // point probe must be able to skip overlay files like any other
      (man.epochs.values.toSet ++ man.overlays.values.flatten)
        .foreach { e =>
          if (!fs.exists(new Path(s"$tablePath/$e", BloomSidecar)))
            writeBloomSidecar(spark, fs, s"$tablePath/$e", bloomBy,
              bloomItems, man.schema)
        }
      commitOrConflict(fs, dir,
        man.copy(version = man.version + 1, bloomCols = bloomBy,
          bloomItems = bloomItems), "buildBloomIndex")
    }
  }

  /** An epoch's staged Bloom sidecar: "bucket-dir/file" -> column ->
    * serialized filter. Missing sidecar (pre-bloom epoch) = empty map —
    * probes keep every file, lossless as ever.
    */
  private def readBloomSidecar(fs: FileSystem, epochRoot: String)
      : Map[String, Map[String, Array[Byte]]] = {
    val p = new Path(epochRoot, BloomSidecar)
    if (!fs.exists(p)) return Map.empty
    val node = readJsonFile(fs, p)
    val b64 = java.util.Base64.getDecoder
    val out = scala.collection.mutable.Map
      .empty[String, Map[String, Array[Byte]]]
    node.fields().forEachRemaining { f =>
      val cols = scala.collection.mutable.Map.empty[String, Array[Byte]]
      f.getValue.fields().forEachRemaining { c =>
        cols(c.getKey) = b64.decode(c.getValue.asText())
      }
      out(f.getKey) = cols.toMap
    }
    out.toMap
  }

  /** File-level Bloom probe: false = the column provably does not
    * contain the canonical value anywhere in the file. Unknown tags
    * never prune.
    */
  private def bloomMightContain(bytes: Array[Byte], tag: Char,
                                v: Any): Boolean = {
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    tag match {
      case 'L' => bf.mightContainLong(v.asInstanceOf[Long])
      case 'S' => bf.mightContainString(v.asInstanceOf[String])
      case _ => true
    }
  }

  /** Post-merge auto-compaction check (see [[AutoCompactEpochs]]): count
    * live epochs from the just-committed manifest (a metadata-only read)
    * and rewrite when fragmentation crosses the threshold.
    */
  private def maybeAutoCompact(spark: SparkSession, fs: FileSystem, dir: Path,
                               tablePath: String, threshold: Int): Unit =
    currentManifest(fs, dir).foreach { man =>
      if (man.epochs.values.toSet.size > threshold)
        // advisory: losing a commit race to a concurrent writer must not
        // fail the merge that already committed — a later merge retries
        try compact(spark, tablePath)
        catch {
          case _: java.io.IOException => ()
          case _: java.util.ConcurrentModificationException => ()
        }
    }

  /** GROW-on-write threshold: a merge that leaves any bucket holding
    * MORE than this many bytes triggers an inline [[splitBuckets]] —
    * the operational completion of the split path (Delta/Iceberg re-bin
    * at OPTIMIZE time; this makes the trigger automatic, like their
    * auto-optimize). The decision is METADATA-ONLY: per-bucket bytes
    * are summed from the manifest's per-file stats, no listing of the
    * table. 256 MB per bucket keeps single-bucket rewrites (the I/O
    * unit of every keyed merge) bounded as the table grows; a table
    * created before stats recording, or without recorded keys, never
    * auto-splits (the decision has nothing safe to read).
    */
  val AutoSplitBytesPerBucket: Long = 256L << 20

  /** Modulus ceiling for AUTO splits — a single hot key's bucket can
    * exceed any byte threshold without a split being able to shrink it
    * (all its rows share one hash); the cap stops the pathological
    * split-per-merge loop a manual [[splitBuckets]] caller can still
    * override.
    */
  val AutoSplitMaxBuckets: Int = 4096

  private def maybeAutoSplit(spark: SparkSession, fs: FileSystem, dir: Path,
                             tablePath: String, threshold: Long): Unit =
    if (threshold > 0) currentManifest(fs, dir).foreach { man =>
      if (man.keyCols.nonEmpty && man.stats.nonEmpty &&
          man.buckets < AutoSplitMaxBuckets) {
        val maxBucketBytes =
          man.stats.values.map(_.map(_.bytes).sum).maxOption.getOrElse(0L)
        if (maxBucketBytes > threshold)
          // advisory, like auto-compaction: a lost race never fails the
          // merge that already committed — growth retries next merge
          try splitBuckets(spark, tablePath, man.keyCols)
          catch {
            case _: java.io.IOException => ()
            case _: java.util.ConcurrentModificationException => ()
          }
      }
    }

  /** Read committed epoch data with the manifest-recorded schema — a
    * zero-job plan step, vs. `mergeSchema=true`'s distributed footer-merge
    * (O(files) tasks on EVERY read of EVERY table). Pre-schema manifests
    * (legacy) fall back to the footer merge once; their next commit
    * records the schema.
    */
  private def readPlain(spark: SparkSession, m: Manifest,
                        paths: Seq[String]): DataFrame =
    m.schema match {
      case Some(s) =>
        val sch = DataType.fromJson(s).asInstanceOf[StructType]
        if (m.colIds.nonEmpty) {
          // id-stamped table: hand the reader the id-annotated schema so
          // files written under since-renamed column names still match.
          // INTERNAL frames keep the id metadata (a compaction/split
          // rewrite must re-write it); the public read surface strips
          // via stripFrame.
          ensureFieldIdRead(spark)
          spark.read.schema(stampSchema(sch, m.colIds)).parquet(paths: _*)
        } else spark.read.schema(sch).parquet(paths: _*)
      case None => spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }

  // ---- deletion vectors (merge-on-read deletes) ----------------------------

  /** Directory under the table root holding deletion-vector sidecars
    * (underscore ⇒ invisible to parquet reads, like `_blooms.json`).
    * One JSON per DV commit: `{"files": {"e-…/__bucket=K/part-….parquet":
    * [pos, …], …}}` — each entry the FULL (old ∪ new) dead-position set
    * of its file, so a file carries at most one live sidecar reference.
    * Sidecars referenced by any retained manifest survive gc; the rest
    * reclaim after the orphan window.
    */
  private[sources] val DvDirName = "_dv"

  /** Ceiling on dead positions resolved per DV commit: the position set
    * travels driver-side into the commit (and into read plans as an
    * `InSet`), so it must stay metadata-sized. Past the cap the delete
    * falls back to the ordinary bucket rewrite — correct either way,
    * the DV path is purely an I/O optimization.
    */
  private[sources] val DvMaxPositionsPerCommit: Long = 100000L

  /** DV'd-file count past which a DV commit auto-compacts (advisory,
    * like auto-compaction): every DV'd file is one extra union branch
    * in read plans and one per-file reader chain in catalog scans, so
    * pressure must drain.
    */
  private[sources] val DvAutoCompactFiles: Int = 64

  /** True iff any live file of the manifest carries a deletion vector —
    * the read-side dispatch: DV-free manifests (every table that never
    * opted in, and every DV table right after compaction) keep the
    * native single-relation plan everywhere.
    */
  private[sources] def hasLiveDvs(m: Manifest): Boolean =
    m.stats.valuesIterator.exists(_.exists(_.dv.nonEmpty))

  /** True iff any bucket carries a live equality-delete record (see
    * [[Manifest.eqds]]) — reads must filter doomed keys, metadata
    * count-serving must bail, and the V1 format route must bridge.
    */
  private[sources] def hasLiveEqds(m: Manifest): Boolean =
    m.eqds.valuesIterator.exists(_.nonEmpty)

  /** Directory under the table root holding equality-delete sidecars:
    * one PARQUET directory per eq-delete commit, rows = the doomed key
    * tuples typed as the table's key columns (field-id stamped, so a
    * later key-column RENAME stays metadata-only — readers match by
    * id). Referenced sidecars survive gc like `_dv/` entries.
    */
  private[sources] val EqDirName = "_eqd"

  /** The equality-delete sidecars that apply to rows of `epoch` within
    * bucket `b`: every record whose `upTo` exceeds the epoch's ordinal
    * (base = 0, overlays in append order). An epoch the manifest does
    * not list fails loudly — silently serving it UNFILTERED could
    * resurrect deleted rows.
    */
  private def applicableEqds(m: Manifest, b: Int, epoch: String)
      : Seq[String] = {
    val ds = m.eqds.getOrElse(b, Seq.empty)
    if (ds.isEmpty) Seq.empty
    else {
      val ord = bucketEpochs(m, b).indexOf(epoch)
      require(ord >= 0, s"equality deletes: epoch $epoch is not a live " +
        s"epoch of bucket $b (version ${m.version})")
      ds.filter(_.upTo > ord).map(_.sidecar).distinct.sorted
    }
  }

  /** The doomed-key tuples of the given sidecars as ONE typed frame of
    * the table's key columns — the right side of the read-path
    * anti-join. Schema comes from the manifest (id-stamped), so keys
    * renamed since the sidecar was written still resolve.
    */
  private def eqdKeysDf(spark: SparkSession, root: String, m: Manifest,
                        sidecars: Seq[String]): DataFrame = {
    val full = DataType.fromJson(m.schema.getOrElse(
      throw new IllegalStateException(
        "equality deletes require a recorded schema"))).asInstanceOf[StructType]
    val keySchema = StructType(m.keyCols.map(k => full(full.fieldIndex(k))))
    val paths = sidecars.distinct.sorted.map(s => s"$root/$EqDirName/$s")
    if (m.colIds.nonEmpty) {
      ensureFieldIdRead(spark)
      stripFrame(spark.read.schema(stampSchema(keySchema, m.colIds))
        .parquet(paths: _*))
    } else spark.read.schema(keySchema).parquet(paths: _*)
  }

  /** Stage an equality-delete sidecar: the doomed key tuples written as
    * one small parquet directory under `_eqd/` (sidecar first, manifest
    * last — a failed commit leaves an unreferenced directory for gc's
    * age guard). Bounded by the per-commit key cap, so `coalesce(1)`
    * keeps it one file.
    */
  private def writeEqdSidecar(spark: SparkSession, root: String,
                              name: String, doomed: DataFrame,
                              colIds: Map[String, Long]): Unit = {
    val stamped = if (colIds.isEmpty) doomed else stampFrame(doomed, colIds)
    stamped.coalesce(1).write.mode(SaveMode.ErrorIfExists)
      .parquet(s"$root/$EqDirName/$name")
  }

  /** Every epoch directory holding live files of bucket `b`: the base
    * pointer epoch plus any merge-on-read overlays, in commit order.
    */
  private def bucketEpochs(m: Manifest, b: Int): Seq[String] =
    m.epochs.get(b).toSeq ++ m.overlays.getOrElse(b, Seq.empty)

  /** The bucket directories a read of bucket `b` must cover. */
  private def bucketDirPaths(root: String, m: Manifest, b: Int): Seq[String] =
    bucketEpochs(m, b).map(e => bucketPath(root, e, b))

  /** All live bucket directories of the manifest, bucket-ordered. */
  private def allDirPaths(root: String, m: Manifest): Seq[String] =
    m.epochs.keys.toSeq.sorted.flatMap(b => bucketDirPaths(root, m, b))

  /** The epoch a stats-listed file actually lives in: its overlay
    * attribution when present, else the bucket's base pointer epoch.
    */
  private def fileEpoch(m: Manifest, b: Int, f: FileStat): String =
    if (f.e.nonEmpty) f.e else m.epochs(b)

  /** Absolute path of a stats-listed file. */
  private[sources] def fileReadPath(root: String, m: Manifest, b: Int,
                           f: FileStat): String =
    bucketPath(root, fileEpoch(m, b, f), b) + "/" + f.name

  /** A bucket's CONFLICT-DETECTION identity: its epoch pointer PLUS its
    * merge-on-read overlay list PLUS its files' deletion-vector
    * references. A DV commit or an overlay append changes a bucket's
    * logical content WITHOUT moving its pointer, so every "did this
    * bucket change under me" decision (optimistic rebase, scan-to-commit
    * guards, change-feed bucket pruning) must compare this signature —
    * pointer equality alone would let a rebasing merge clobber a
    * concurrent DV delete's positions (resurrecting deleted rows) and
    * let a feed skip a bucket whose rows a DV just killed.
    */
  private def bucketSig(m: Manifest, b: Int)
      : (Seq[String], Seq[(String, String)], Seq[EqDel]) =
    (bucketEpochs(m, b),
      m.stats.get(b).map(_.collect {
        case f if f.dv.nonEmpty => (f.name, f.dv)
      }.sortBy(_._1)).getOrElse(Seq.empty),
      // equality deletes change a bucket's logical rows without moving
      // its pointer OR its files' DV refs — same hazard, same signature
      m.eqds.getOrElse(b, Seq.empty))

  private def bucketSigOpt(m: Option[Manifest], b: Int)
      : (Seq[String], Seq[(String, String)], Seq[EqDel]) =
    m.map(bucketSig(_, b)).getOrElse((Seq.empty, Seq.empty, Seq.empty))

  private def writeDvSidecar(fs: FileSystem, tableRoot: String, name: String,
                             entries: Map[String, Array[Long]]): Unit = {
    val body = "{\"files\":{" + entries.toSeq.sortBy(_._1)
      .map { case (k, ps) => jsonStr(k) + ":[" + ps.mkString(",") + "]" }
      .mkString(",") + "}}"
    val p = new Path(s"$tableRoot/$DvDirName/$name")
    fs.mkdirs(p.getParent)
    val out = fs.create(p, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** MERGE-ON-READ keyed upsert (Iceberg v2's merge-on-read writes:
    * data-file adds beside position deletes): the incoming batch lands
    * as ONE overlay epoch — clustered, Bloom'd, fingerprinted and
    * id-stamped exactly like any epoch — while the replaced keys' OLD
    * rows die by deletion vector, so no read ever needs key-level
    * dedupe: the overlay rows are the only live copies. Write I/O is
    * ∝ the BATCH (plus a KB-scale sidecar + manifest), not ∝ the
    * touched buckets — at 100 TB with 256 MB buckets, a 1 000-row
    * trickle upsert scattered over 200 buckets is ~MBs instead of
    * ~50 GB of rewrite. The price is read-side and bounded exactly
    * like DV deletes: extra union branches per overlay and row-based
    * (not columnar) catalog scans while vectors are live, drained by
    * auto-compaction (any
    * full bucket rewrite — CoW merge, delete, compact, split —
    * collapses the bucket's overlays).
    *
    * Returns false — the caller falls back to copy-on-write — when the
    * batch is too large to stay metadata-sized
    * ([[DvMaxPositionsPerCommit]]), the incoming schema differs from
    * the recorded one (evolution stays CoW), or a touched stored
    * bucket lacks per-file stats. Returns true when the upsert
    * committed.
    */
  private def morApply(spark: SparkSession, fs: FileSystem,
                       tablePath: String, man: Manifest,
                       inc: DataFrame, delKeys: Option[DataFrame],
                       keys: Seq[String], touched: Seq[Int],
                       txn: Option[(String, Long)],
                       opName: String = "merge",
                       ref: Option[String] = None,
                       // exact batch sizes when the caller already knows
                       // them (touchedBucketCounts' sums) — skips the
                       // limit(cap).count() probe jobs below
                       incTotalHint: Option[Long] = None,
                       delTotalHint: Option[Long] = None): Boolean = {
    if (man.schema.isEmpty) return false
    val recorded = DataType.fromJson(man.schema.get)
      .asInstanceOf[StructType]
    // column ORDER is provenance noise (a by-name INSERT delivers the
    // user-list order) — reorder to the recorded schema instead of
    // silently refusing the fast path and paying a CoW bucket rewrite;
    // only a genuinely different column SET or type falls back
    val incNames = inc.drop(BucketCol).columns.toSeq
    val inc0 =
      if (incNames == recorded.fieldNames.toSeq) inc
      else if (incNames.sorted == recorded.fieldNames.toSeq.sorted)
        inc.select((recorded.fieldNames.toSeq :+ BucketCol)
          .filter(inc.columns.contains).map(col): _*)
      else return false
    val cleanSchema = stripSchemaIds(inc0.drop(BucketCol).schema)
    if (!org.apache.spark.sql.GraftColumnShim
          .sameTypeIgnoreNullability(recorded, cleanSchema))
      return false
    val touchedStored = touched.filter(man.epochs.contains)
    if (touchedStored.exists(b => man.stats.get(b).forall(_.isEmpty)))
      return false
    // cap probe with an early out: a large merge on a deleteVectors
    // table must not pay full-count Spark jobs just to discover it
    // belongs on the copy-on-write path — limit(cap+1) bounds the work,
    // and a count that comes back under the limit is exact (nothing was
    // truncated), so the counts double as the real sizes below
    val capProbe = (DvMaxPositionsPerCommit + 1).toInt
    val incCount = incTotalHint.getOrElse(inc.limit(capProbe).count())
    if (incCount > DvMaxPositionsPerCommit) return false
    val delCount = delTotalHint.orElse(
      delKeys.map(_.limit(capProbe).count())).getOrElse(0L)
    if (incCount + delCount > DvMaxPositionsPerCommit) return false
    val doomed = delKeys match {
      case Some(d) => inc.select(keys.map(col): _*)
        .union(d.select(keys.map(col): _*)).distinct()
      case None => inc.select(keys.map(col): _*).distinct()
    }
    // 1. positions of the CHANGED keys' current live rows (≤ changeset
    //    size — keyed-table invariant; already-dead rows stay out via
    //    the DV-aware read). Upserted keys vacate their old copy;
    //    deleted keys just end here.
    val storedPaths = touchedStored.flatMap(b =>
      bucketDirPaths(tablePath, man, b))
    val hits =
      if (storedPaths.isEmpty) Array.empty[org.apache.spark.sql.Row]
      // doomed is cap-bounded (checked above) — broadcast it so the
      // touched-bucket probe scan never pays an Exchange (guide §3.1)
      else readFiltered(spark, man, tablePath, storedPaths, withPos = true)
        .join(broadcast(doomed), keys, "left_semi")
        .select(col("__graft_file"), col("__graft_pos"))
        .collect()
    if (incCount == 0 && hits.isEmpty) return true // provable no-op
    // 2. the overlay epoch: the batch written exactly like any epoch
    //    (a pure-delete changeset writes none)
    val epoch = "e-" + UUID.randomUUID()
    val written: Set[Int] =
      if (incCount == 0) Set.empty
      else {
        // the overlay rows pass the same CHECK-constraint guard as any
        // epoch write (fused into the write's own pass)
        val incChecked = enforceChecks(inc0.drop(BucketCol), man.checks,
          tablePath)
        val stamped =
          if (man.colIds.isEmpty) stripFrame(incChecked)
          else stampFrame(incChecked, man.colIds)
        val data = stamped.withColumn(BucketCol,
          bucketExprChecked(keys, man.buckets))
        val clustered = clusterSort(data.repartition(col(BucketCol)),
          man.clusterCols)
        withShredCols(clustered, man.shredCols)
          .write.mode(SaveMode.ErrorIfExists).partitionBy(BucketCol)
          .parquet(s"$tablePath/$epoch")
        listWrittenBuckets(fs, s"$tablePath/$epoch").toSet
      }
    val stats0 = collectFileStats(fs, new Path(s"$tablePath/$epoch"),
      withColumnStats = man.clusterCols.nonEmpty,
      priorityCols = man.shredCols.map(shredColName).toSet)
    val statsFp =
      if (man.fingerprint && written.nonEmpty)
        withFingerprints(stats0,
          fileFingerprints(spark, s"$tablePath/$epoch",
            Some(cleanSchema.json), man.colIds))
      else stats0
    // overlay files carry their epoch attribution in the stats record
    val overlayStats: Map[Int, Seq[FileStat]] =
      statsFp.map { case (b, fss) => b -> fss.map(_.copy(e = epoch)) }
    if ((man.bloomCols.nonEmpty || man.shredCols.nonEmpty) &&
        written.nonEmpty)
      writeBloomSidecar(spark, fs, s"$tablePath/$epoch", man.bloomCols,
        man.bloomItems, Some(cleanSchema.json), man.shredCols)
    // 3. deletion vectors for the replaced keys' old rows: the sidecar
    //    entry is each file's FULL (prior ∪ new) dead set, as ever
    val newDead: Map[String, Array[Long]] = hits.groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)) }
    val sidecar = "dv-" + UUID.randomUUID() + ".json"
    val mergedDead: Map[String, Array[Long]] =
      if (newDead.isEmpty) Map.empty
      else {
        val priorRefs = dvFileRefs(man).filter { case (k, _) =>
          newDead.contains(k) }
        val priorPos = dvPositions(fs, tablePath, priorRefs)
        newDead.map { case (k, ps) =>
          k -> (priorPos.getOrElse(k, Array.empty[Long]) ++ ps)
            .distinct.sorted
        }
      }
    if (mergedDead.nonEmpty) writeDvSidecar(fs, tablePath, sidecar,
      mergedDead)
    // incremental stats: the overlay epoch's rows fold into the stored
    // HLL sketches exactly like a CoW epoch's (one narrow scan of the
    // freshly-written overlay files)
    val batchSk =
      if (man.colSketches.nonEmpty && written.nonEmpty)
        batchColStats(spark.read.parquet(s"$tablePath/$epoch"),
          man.colSketches.keySet)
      else None
    // identity high-water from the overlay files (same cost shape);
    // specs come from the DECLARED schema — the incoming frame never
    // carries the identity metadata
    val morIdSpec = man.schema
      .map(s => identitySpecs(DataType.fromJson(s).asInstanceOf[StructType]))
      .getOrElse(identitySpecs(cleanSchema))
    val morIdExt =
      if (morIdSpec.nonEmpty && written.nonEmpty)
        identityExtremes(spark, s"$tablePath/$epoch", morIdSpec)
      else Map.empty[String, Long]
    // 4. one manifest commit: overlays appended, DVs re-pointed, fresh
    //    buckets (no stored pointer yet) adopt the epoch as their BASE
    var base = man
    var attempt = 0
    while (true) {
      val freshBase = written.filterNot(base.epochs.contains)
      val stats2 = (base.stats.map { case (b, fss) =>
        val withDv =
          if (mergedDead.isEmpty) fss
          else fss.map { f =>
            mergedDead.get(dvRelKey(fileEpoch(base, b, f), b, f.name)) match {
              case Some(ps) => f.copy(dv = sidecar, dvn = ps.length.toLong)
              case None => f
            }
          }
        b -> (withDv ++ (if (written(b)) overlayStats.getOrElse(b, Seq.empty)
                         else Seq.empty))
      }) ++ overlayStats.filter { case (b, _) => !base.stats.contains(b) }
      try {
        refCommit(fs, new Path(tablePath), ref,
          withRefreshedStats(base.copy(version = base.version + 1,
            epochs = base.epochs ++ freshBase.map(_ -> epoch).toMap,
            overlays = base.overlays ++
              written.intersect(base.epochs.keySet).map(b =>
                b -> (base.overlays.getOrElse(b, Seq.empty) :+ epoch)).toMap,
            stats = stats2,
            txns = base.txns ++ txn,
            idhw = advanceIdhw(base.idhw, morIdSpec, morIdExt),
            op = opName, opTs = System.currentTimeMillis()), batchSk))
        return true
      } catch {
        case ex: java.io.IOException =>
          attempt += 1
          if (attempt > 5) throw ex
          val cur = refCurrent(fs, new Path(tablePath), ref)
            .getOrElse(throw ex)
          // rebase iff nothing this upsert read-modified moved: the
          // resolved positions and the overlay append are both keyed to
          // the touched buckets' signatures at scan time
          val contested = cur.buckets != man.buckets ||
            cur.schema != man.schema ||
            (cur.keyCols.nonEmpty && cur.keyCols != keys) ||
            // the overlay rows were proven under man's constraint set
            cur.checks != man.checks ||
            // identity values were reserved against man's high-water
            (morIdSpec.nonEmpty && cur.idhw != man.idhw) ||
            touched.exists(b => bucketSig(cur, b) != bucketSig(man, b))
          if (contested)
            throw new java.util.ConcurrentModificationException(
              s"merge: concurrent writer rewrote contested state of " +
                s"$tablePath (version ${cur.version}) under a merge-on-" +
                "read upsert — re-run against the new table state")
          base = cur
      }
    }
    false // unreachable
  }

  /** MERGE-ON-READ keyed delete (Delta's deletion vectors / Iceberg v2
    * position deletes, on this protocol): resolve the doomed keys' LIVE
    * row positions (one pruned, DV-filtered read of the touched buckets
    * — reads only key columns plus file metadata, writes nothing bucket-
    * sized), stage ONE `_dv/` sidecar holding each touched file's full
    * dead-position set, and commit the next manifest version with the
    * files' `dv` references updated — epoch pointers unmoved, write I/O
    * ∝ deleted rows instead of ∝ touched-bucket bytes. At 100 TB with
    * 256 MB buckets, a 100-key purge spread over 100 buckets is ~KBs of
    * sidecar instead of ~25 GB of rewrite — the reference's deleted-item
    * reconciliation (T19) and right-to-be-forgotten purges are exactly
    * this shape. Readers filter dead positions through [[readDvAware]];
    * compaction purges (fresh stats carry no `dv`), and commits racing a
    * DV delete conflict through [[bucketSig]] (pointer + DV identity).
    *
    * Returns false — caller falls back to the copy-on-write rewrite —
    * when the delete is too large to stay metadata-sized
    * ([[DvMaxPositionsPerCommit]]) or a touched bucket lacks per-file
    * stats (nowhere to hang the reference). Returns true when the
    * delete committed OR proved a no-op (no stored row matches).
    */
  private def dvDelete(spark: SparkSession, fs: FileSystem,
                       tablePath: String, man: Manifest,
                       del: DataFrame, keys: Seq[String],
                       touched: Seq[Int],
                       ref: Option[String] = None,
                       delTotalHint: Option[Long] = None): Boolean = {
    val touchedStored = touched.filter(man.epochs.contains)
    if (touchedStored.isEmpty) return true
    if (touchedStored.exists(b => man.stats.get(b).forall(_.isEmpty)))
      return false
    if (delTotalHint.getOrElse(del.count()) > DvMaxPositionsPerCommit)
      return false
    val paths = touchedStored.flatMap(b =>
      bucketDirPaths(tablePath, man, b))
    // LIVE rows matching the doomed keys, with physical positions: the
    // DV-aware read keeps already-dead rows out, so the collected set is
    // ≤ one row per doomed key (keyed-table invariant) — bounded by the
    // cap checked above
    // del is cap-bounded (checked above) — broadcast it so the probe
    // scan of the touched buckets never pays an Exchange (guide §3.1)
    val hits = readFiltered(spark, man, tablePath, paths, withPos = true)
      .join(broadcast(del.drop(BucketCol)), keys, "left_semi")
      .select(col("__graft_file"), col("__graft_pos"))
      .collect()
    if (hits.isEmpty) return true
    val newDead: Map[String, Array[Long]] = hits.groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)) }
    // the sidecar entry carries the file's FULL (old ∪ new) dead set, so
    // each file keeps exactly one live sidecar reference
    val priorRefs = dvFileRefs(man).filter { case (k, _) =>
      newDead.contains(k) }
    val priorPos = dvPositions(fs, tablePath, priorRefs)
    val mergedDead: Map[String, Array[Long]] = newDead.map { case (k, ps) =>
      k -> (priorPos.getOrElse(k, Array.empty[Long]) ++ ps).distinct.sorted
    }
    val sidecar = "dv-" + UUID.randomUUID() + ".json"
    // sidecar first, manifest last — the protocol's normal dance; a
    // failed commit leaves an unreferenced sidecar for gc's age guard
    writeDvSidecar(fs, tablePath, sidecar, mergedDead)
    val relKeysByBucket: Map[Int, Map[String, Array[Long]]] =
      touchedStored.map { b =>
        b -> mergedDead.filter { case (k, _) =>
          bucketEpochs(man, b).exists(e =>
            k.startsWith(s"$e/$BucketCol=$b/")) }
      }.toMap
    var base = man
    var attempt = 0
    while (true) {
      val stats2 = base.stats.map { case (b, fss) =>
        relKeysByBucket.get(b).filter(_.nonEmpty) match {
          case Some(dead) =>
            b -> fss.map { f =>
              dead.get(dvRelKey(fileEpoch(base, b, f), b, f.name)) match {
                case Some(ps) => f.copy(dv = sidecar, dvn = ps.length.toLong)
                case None => f
              }
            }
          case None => b -> fss
        }
      }
      try {
        refCommit(fs, new Path(tablePath), ref,
          base.copy(version = base.version + 1, stats = stats2,
            op = "delete", opTs = System.currentTimeMillis()))
        return true
      } catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt > 5) throw e
          val cur = refCurrent(fs, new Path(tablePath), ref)
            .getOrElse(throw e)
          // rebase iff nothing this delete read-modified moved: same
          // modulus and schema, and every touched bucket's signature
          // (pointer + DV identity) unchanged since the positions were
          // resolved — anything else means the resolved positions are
          // stale (a rewrite renumbered rows, a racing DV marked more)
          val contested = cur.buckets != man.buckets ||
            cur.schema != man.schema ||
            touchedStored.exists(b => bucketSig(cur, b) != bucketSig(man, b))
          if (contested)
            throw new java.util.ConcurrentModificationException(
              s"delete: concurrent writer rewrote contested state of " +
                s"$tablePath (version ${cur.version}) under a deletion-" +
                "vector delete — re-run against the new table state")
          base = cur
      }
    }
    false // unreachable
  }

  /** WRITE-ONLY merge-on-read keyed upsert/delete (Iceberg v2's
    * EQUALITY DELETES beside data-file adds): the incoming batch lands
    * as one overlay epoch exactly like [[morApply]], but the changed
    * keys' old rows die by a DOOMED-KEY sidecar instead of resolved
    * positions — the write path performs NO read of stored data at
    * all. This is the trickle-CDC shape at 100 TB: an at-least-once
    * queue feeding keyed upserts (the reference's SQS-fed state loads,
    * `serverless.yml:400-407`) pays ∝ its batch per trigger with zero
    * probe I/O. The cost moves to the read side, bounded like DVs:
    * format reads anti-join the doomed keys away ([[readFiltered]]),
    * the native catalog scan resolves them to row positions at plan
    * time ([[eqdDeadByAbsPath]]), and MoR pressure compaction purges.
    *
    * Scoping (Iceberg's sequence-number rule): the sidecar applies ONLY
    * to epochs live BEFORE this commit (`EqDel.upTo` = the bucket's
    * live-epoch count at commit), so the commit's own overlay rows —
    * the doomed keys' replacements — survive, and stacked eq-delete
    * upserts leave exactly one live copy per key with no read-side
    * key dedupe.
    *
    * Returns false — caller falls back to copy-on-write — when the
    * batch exceeds the per-commit key cap or the incoming schema moved
    * (evolution stays CoW); unlike [[morApply]], missing per-file stats
    * don't matter (nothing hangs on files). Returns true when the
    * commit landed or the call proved a no-op.
    */
  private def eqdApply(spark: SparkSession, fs: FileSystem,
                       tablePath: String, man: Manifest,
                       incOpt: Option[DataFrame], delKeys: Option[DataFrame],
                       keys: Seq[String], touched: Seq[Int],
                       txn: Option[(String, Long)],
                       opName: String = "merge",
                       ref: Option[String] = None,
                       // exact batch sizes when already known (the
                       // touchedBucketCounts sums) — no re-count jobs
                       incTotalHint: Option[Long] = None,
                       delTotalHint: Option[Long] = None): Boolean = {
    if (man.schema.isEmpty) return false
    val recorded = DataType.fromJson(man.schema.get).asInstanceOf[StructType]
    // column ORDER is provenance noise — reorder to the recorded schema
    // (morApply's rule); a different column SET or type falls back
    val inc0opt: Option[DataFrame] = incOpt match {
      case None => None
      case Some(inc) =>
        val incNames = inc.drop(BucketCol).columns.toSeq
        val reordered =
          if (incNames == recorded.fieldNames.toSeq) inc
          else if (incNames.sorted == recorded.fieldNames.toSeq.sorted)
            inc.select((recorded.fieldNames.toSeq :+ BucketCol)
              .filter(inc.columns.contains).map(col): _*)
          else return false
        if (!org.apache.spark.sql.GraftColumnShim.sameTypeIgnoreNullability(
              recorded, stripSchemaIds(reordered.drop(BucketCol).schema)))
          return false
        Some(reordered)
    }
    val capProbe = (DvMaxPositionsPerCommit + 1).toInt
    val incCount = incTotalHint.getOrElse(
      incOpt.fold(0L)(_.limit(capProbe).count()))
    if (incCount > DvMaxPositionsPerCommit) return false
    val delCount = delTotalHint.orElse(
      delKeys.map(_.limit(capProbe).count())).getOrElse(0L)
    if (incCount + delCount > DvMaxPositionsPerCommit) return false
    val touchedStored = touched.filter(man.epochs.contains)
    // a touched bucket without per-file stats falls back to CoW: the
    // catalog scan's plan-time resolution enumerates an eq-delete's
    // affected files FROM the stats records — an unlisted file would
    // serve its doomed rows unfiltered (morApply's guard, same reason)
    if (touchedStored.exists(b => man.stats.get(b).forall(_.isEmpty)))
      return false
    // nothing to insert and nothing stored to delete from: provable
    // no-op — but an exactly-once consumer's anchor must still advance
    // (the empty-changeset rule merge()/applyChanges() follow), or a
    // redelivered window re-applies forever
    if (incCount == 0 && (delCount == 0 || touchedStored.isEmpty)) {
      txn.foreach(t => commitTxnGuard(fs, new Path(tablePath), t, ref))
      return true
    }
    val doomed = (inc0opt.map(_.select(keys.map(col): _*)).toSeq ++
      delKeys.map(_.select(keys.map(col): _*)).toSeq)
      .reduce(_ union _).distinct()
    // 1. the overlay epoch: the batch written exactly like any epoch
    //    (a pure-delete changeset writes none)
    val epoch = "e-" + UUID.randomUUID()
    val written: Set[Int] =
      if (incCount == 0) Set.empty
      else {
        val inc0 = inc0opt.get
        val incChecked = enforceChecks(inc0.drop(BucketCol), man.checks,
          tablePath)
        val stamped =
          if (man.colIds.isEmpty) stripFrame(incChecked)
          else stampFrame(incChecked, man.colIds)
        val data = stamped.withColumn(BucketCol,
          bucketExprChecked(keys, man.buckets))
        val clustered = clusterSort(data.repartition(col(BucketCol)),
          man.clusterCols)
        withShredCols(clustered, man.shredCols)
          .write.mode(SaveMode.ErrorIfExists).partitionBy(BucketCol)
          .parquet(s"$tablePath/$epoch")
        listWrittenBuckets(fs, s"$tablePath/$epoch").toSet
      }
    val cleanSchemaJson = inc0opt
      .map(i => stripSchemaIds(i.drop(BucketCol).schema).json)
      .orElse(man.schema)
    val stats0 = collectFileStats(fs, new Path(s"$tablePath/$epoch"),
      withColumnStats = man.clusterCols.nonEmpty,
      priorityCols = man.shredCols.map(shredColName).toSet)
    val statsFp =
      if (man.fingerprint && written.nonEmpty)
        withFingerprints(stats0,
          fileFingerprints(spark, s"$tablePath/$epoch", cleanSchemaJson,
            man.colIds))
      else stats0
    val overlayStats: Map[Int, Seq[FileStat]] =
      statsFp.map { case (b, fss) => b -> fss.map(_.copy(e = epoch)) }
    if ((man.bloomCols.nonEmpty || man.shredCols.nonEmpty) &&
        written.nonEmpty)
      writeBloomSidecar(spark, fs, s"$tablePath/$epoch", man.bloomCols,
        man.bloomItems, cleanSchemaJson, man.shredCols)
    // 2. the doomed-key sidecar (skipped when no touched bucket stores
    //    anything — nothing to delete from). Sidecar first, manifest
    //    last; a failed commit leaves an orphan for gc's age guard.
    //    `n` records the batch bound (pressure accounting), not an
    //    exact distinct count — counting would cost one more job.
    val sidecar = "eqd-" + UUID.randomUUID()
    if (touchedStored.nonEmpty)
      writeEqdSidecar(spark, tablePath, sidecar, doomed, man.colIds)
    val batchSk =
      if (man.colSketches.nonEmpty && written.nonEmpty)
        batchColStats(spark.read.parquet(s"$tablePath/$epoch"),
          man.colSketches.keySet)
      else None
    val morIdSpec = identitySpecs(recorded)
    val morIdExt =
      if (morIdSpec.nonEmpty && written.nonEmpty)
        identityExtremes(spark, s"$tablePath/$epoch", morIdSpec)
      else Map.empty[String, Long]
    // 3. one manifest commit: overlays appended, eq-delete records
    //    appended with pre-commit epoch counts, fresh buckets adopt the
    //    epoch as their base
    var base = man
    var attempt = 0
    while (true) {
      val freshBase = written.filterNot(base.epochs.contains)
      val stats2 = (base.stats.map { case (b, fss) =>
        b -> (fss ++ (if (written(b)) overlayStats.getOrElse(b, Seq.empty)
                      else Seq.empty))
      }) ++ overlayStats.filter { case (b, _) => !base.stats.contains(b) }
      // upTo from the PRE-COMMIT base: the overlay appended below takes
      // ordinal upTo, keeping this commit's own rows exempt
      val eqds2 =
        if (touchedStored.isEmpty) base.eqds
        else base.eqds ++ touched.filter(base.epochs.contains).map { b =>
          b -> (base.eqds.getOrElse(b, Seq.empty) :+
            EqDel(sidecar, bucketEpochs(base, b).length, incCount + delCount))
        }
      try {
        refCommit(fs, new Path(tablePath), ref,
          withRefreshedStats(base.copy(version = base.version + 1,
            epochs = base.epochs ++ freshBase.map(_ -> epoch).toMap,
            overlays = base.overlays ++
              written.intersect(base.epochs.keySet).map(b =>
                b -> (base.overlays.getOrElse(b, Seq.empty) :+ epoch)).toMap,
            stats = stats2,
            eqds = eqds2,
            txns = base.txns ++ txn,
            idhw = advanceIdhw(base.idhw, morIdSpec, morIdExt),
            op = opName, opTs = System.currentTimeMillis()), batchSk))
        return true
      } catch {
        case ex: java.io.IOException =>
          attempt += 1
          if (attempt > 5) throw ex
          val cur = refCurrent(fs, new Path(tablePath), ref)
            .getOrElse(throw ex)
          // rebase iff nothing this upsert depends on moved: the batch
          // was validated under man's schema/constraint/identity state,
          // and the eq-delete scoping was computed against the touched
          // buckets' epoch lists
          val contested = cur.buckets != man.buckets ||
            cur.schema != man.schema ||
            (cur.keyCols.nonEmpty && cur.keyCols != keys) ||
            cur.checks != man.checks ||
            (morIdSpec.nonEmpty && cur.idhw != man.idhw) ||
            touched.exists(b => bucketSig(cur, b) != bucketSig(man, b))
          if (contested)
            throw new java.util.ConcurrentModificationException(
              s"$opName: concurrent writer rewrote contested state of " +
                s"$tablePath (version ${cur.version}) under an equality-" +
                "delete upsert — re-run against the new table state")
          base = cur
      }
    }
    false // unreachable
  }

  /** Relative file key of a bucket file — the suffix `_metadata
    * .file_path` resolves to via `substring_index(·, "/", -3)`:
    * `e-<uuid>/__bucket=K/<name>`. Globally unique (uuid epochs).
    */
  private def dvRelKey(epoch: String, b: Int, name: String): String =
    s"$epoch/$BucketCol=$b/$name"

  /** relative file key → FileStat, for every live DV'd file. */
  private def dvFileRefs(m: Manifest): Map[String, FileStat] =
    m.epochs.keys.flatMap { b =>
      m.stats.getOrElse(b, Seq.empty).collect {
        case f if f.dv.nonEmpty =>
          dvRelKey(fileEpoch(m, b, f), b, f.name) -> f
      }
    }.toMap

  /** Dead positions of the given relative file keys, resolved from their
    * sidecars (each sidecar read once). A missing sidecar or entry fails
    * loudly — serving a DV'd file UNFILTERED would resurrect deleted
    * rows, the one lie this layer must never tell.
    */
  private def dvPositions(fs: FileSystem, tableRoot: String,
                          refs: Map[String, FileStat])
      : Map[String, Array[Long]] = {
    val bySidecar = refs.groupBy(_._2.dv)
    bySidecar.flatMap { case (sidecar, fileRefs) =>
      val p = new Path(s"$tableRoot/$DvDirName/$sidecar")
      val node = readJsonFile(fs, p)
      val files = Option(node.get("files")).getOrElse(
        throw new IllegalStateException(
          s"deletion-vector sidecar $p has no 'files' entry"))
      fileRefs.keys.map { relKey =>
        val arr = Option(files.get(relKey)).getOrElse(
          throw new IllegalStateException(
            s"deletion-vector sidecar $p has no entry for $relKey"))
        relKey -> (0 until arr.size()).map(arr.get(_).asLong()).toArray
      }
    }
  }

  /** Dead positions of EVERY live DV'd file of the manifest, keyed by
    * normalized absolute file path and sorted ascending — the skip map
    * the native DSv2 scan applies executor-side as a binary-search test
    * on the parquet row index ([[GraftStreamableParquetScan]]). Resolved
    * driver-side from the sidecars (each read once); size is bounded by
    * [[DvAutoCompactFiles]] live DV'd files × the per-commit position
    * cap, so the map stays metadata-sized in the serialized reader
    * factory.
    */
  private[sources] def dvDeadByAbsPath(spark: SparkSession, root: String,
                                       m: Manifest,
                                       keepPaths: Option[Set[String]] = None)
      : Map[String, Array[Long]] = {
    if (!hasLiveDvs(m)) return Map.empty
    // restrict to the files the scan will actually open BEFORE touching
    // sidecars: a pruned scan neither reads the pruned files' sidecars
    // driver-side nor ships their positions in the reader factory
    val wanted = m.epochs.keys.iterator.flatMap { b =>
      m.stats.getOrElse(b, Seq.empty).iterator.collect {
        case f if f.dv.nonEmpty =>
          (dvRelKey(fileEpoch(m, b, f), b, f.name),
            new Path(fileReadPath(root, m, b, f)).toString, f)
      }
    }.filter { case (_, abs, _) => keepPaths.forall(_.contains(abs)) }
      .toSeq
    if (wanted.isEmpty) return Map.empty
    val refs = wanted.map { case (rel, _, f) => rel -> f }.toMap
    val pos = dvPositions(fsFor(spark, root), root, refs)
    wanted.map { case (rel, abs, _) =>
      val dead = pos(rel).clone()
      java.util.Arrays.sort(dead)
      abs -> dead
    }.toMap
  }

  /** Dead positions implied by the manifest's live EQUALITY DELETES,
    * keyed like [[dvDeadByAbsPath]] — the plan-time resolution that
    * lets the native DSv2 catalog scan serve an eq-delete-bearing
    * version through the SAME reader-side row-index skip as position
    * DVs (one skip mechanism, two delete encodings). Costs ONE bounded
    * probe job per scan materialization: a pruned key-column read of
    * only the files some eq-delete applies to, semi-joined against the
    * doomed keys — positions ≤ doomed keys × live epochs, both capped
    * per commit and pressure-drained by MoR auto-compaction, so the
    * probe the WRITE path skipped is paid lazily (and only) by readers.
    * Resolution is in-memory only — no manifest mutation, so it works
    * on time-travel pins, branches and read-only replicas.
    *
    * CACHED PER VERSION (round 14): between compactions a trickle-CDC
    * table is read many times at the same version, and the resolution
    * is a pure function of (table, eq-delete records, file listing) —
    * so the FULL resolution (all affected files) is computed once per
    * (root, version, eq-delete fingerprint) and every scan filters it
    * down to its own pruned listing (a driver-side map restriction,
    * zero jobs). The fingerprint rides the sidecar UUIDs, so branch
    * heads or rewritten versions sharing a version number can never
    * collide. A PRUNED first scan (round 15) probes only ITS OWN kept
    * files — resolved under a (version, fingerprint, pruned-set hash)
    * key — so a selective predicate over a wide eqd-bearing version
    * never pays for files it will not read; an unpruned scan still
    * builds (and caches) the full resolution, and once the full map
    * exists every scan restricts it driver-side with zero jobs.
    */
  private val eqdResCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Map[String, Array[Long]]](
        16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[String, Array[Long]]])
          : Boolean = size() > 64
    })

  /** Test hook: how many eq-delete probe JOBS have run in this process
    * — the "second scan of an unchanged version runs zero probe jobs"
    * assertion.
    */
  private[graft] val eqdProbeJobs = new java.util.concurrent.atomic.AtomicLong

  /** Test hook: how many FILES the eq-delete probe jobs have read in
    * this process — the "a pruned first scan probes only its own kept
    * files" assertion.
    */
  private[graft] val eqdProbedFiles =
    new java.util.concurrent.atomic.AtomicLong

  private[sources] def eqdDeadByAbsPath(spark: SparkSession, root: String,
                                        m: Manifest,
                                        keepPaths: Option[Set[String]] = None)
      : Map[String, Array[Long]] = {
    if (!hasLiveEqds(m)) return Map.empty
    val fp = m.eqds.toSeq.sortBy(_._1).map { case (b, ds) =>
      b + ":" + ds.map(d => d.sidecar + "@" + d.upTo).mkString("+")
    }.mkString("|")
    val fullKey = root + "#" + m.version + "#" + fp
    (Option(eqdResCache.get(fullKey)), keepPaths) match {
      // full map already resolved: every restriction is driver-side
      case (Some(full), None) => full
      case (Some(full), Some(ks)) =>
        full.filter { case (p, _) => ks.contains(p) }
      case (None, None) =>
        val r = eqdResolveAll(spark, root, m, None)
        eqdResCache.put(fullKey, r)
        r
      case (None, Some(ks)) =>
        // prune-aware first probe: resolve only THIS scan's kept files.
        // The effective probe set is kept ∩ affected (metadata-only to
        // compute): when the scan's pruning dropped no affected file,
        // the resolution IS the full one — cache it under the full key
        // so every later restriction is driver-side (the scan path
        // always passes its listing, so this is how the full map gets
        // built at all). A genuinely pruned set caches under ITS hash,
        // making a repeated identical (or equi-effective) scan free.
        val affected = eqdAffectedAbs(root, m)
        val eff = affected.filter(ks.contains)
        if (eff.length == affected.length) {
          val r = eqdResolveAll(spark, root, m, None)
          eqdResCache.put(fullKey, r)
          r
        } else {
          val d = java.security.MessageDigest.getInstance("SHA-256")
          eff.sorted.foreach(p =>
            d.update(p.getBytes(StandardCharsets.UTF_8)))
          val pk = fullKey + "#" +
            d.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
          Option(eqdResCache.get(pk)).getOrElse {
            val r = eqdResolveAll(spark, root, m, Some(ks))
            eqdResCache.put(pk, r)
            r
          }
        }
    }
  }

  /** The files some live eq-delete APPLIES to — metadata only, no I/O
    * (the candidate set [[eqdResolveAll]] would probe, as absolute
    * paths).
    */
  private def eqdAffectedAbs(root: String, m: Manifest): Seq[String] =
    m.epochs.keys.toSeq.sorted.flatMap { b =>
      val maxU = m.eqds.getOrElse(b, Seq.empty)
        .foldLeft(0)((mx, d) => math.max(mx, d.upTo))
      if (maxU == 0) Seq.empty
      else {
        val epochs = bucketEpochs(m, b)
        m.stats.getOrElse(b, Seq.empty).flatMap { f =>
          val ord = epochs.indexOf(fileEpoch(m, b, f))
          if (ord < 0 || ord >= maxU) None
          else Some(new Path(fileReadPath(root, m, b, f)).toString)
        }
      }
    }

  /** The one probe job behind [[eqdDeadByAbsPath]]'s per-version cache:
    * resolve every file some eq-delete applies to — restricted to
    * `keep` when the calling scan's pruning already dropped the rest.
    */
  private def eqdResolveAll(spark: SparkSession, root: String, m: Manifest,
                            keep: Option[Set[String]])
      : Map[String, Array[Long]] = {
    eqdProbeJobs.incrementAndGet()
    // (epoch ordinal, relKey, abs) of every file some eq-delete
    // applies to
    val cands: Seq[(Int, String, String)] =
      m.epochs.keys.toSeq.sorted.flatMap { b =>
        val maxU = m.eqds.getOrElse(b, Seq.empty)
          .foldLeft(0)((mx, d) => math.max(mx, d.upTo))
        if (maxU == 0) Seq.empty
        else {
          val epochs = bucketEpochs(m, b)
          m.stats.getOrElse(b, Seq.empty).flatMap { f =>
            val e = fileEpoch(m, b, f)
            val ord = epochs.indexOf(e)
            require(ord >= 0, s"equality deletes: epoch $e is not a " +
              s"live epoch of bucket $b (version ${m.version})")
            if (ord >= maxU) None
            else Some((ord, dvRelKey(e, b, f.name),
              new Path(fileReadPath(root, m, b, f)).toString))
          }
        }
      }.filter { case (_, _, abs) => keep.forall(_.contains(abs)) }
    eqdProbedFiles.addAndGet(cands.size.toLong)
    if (cands.isEmpty) return Map.empty
    val full = DataType.fromJson(m.schema.getOrElse(
      throw new IllegalStateException(
        "equality deletes require a recorded schema"))).asInstanceOf[StructType]
    val keySchema = StructType(m.keyCols.map(k => full(full.fieldIndex(k))))
    val readSchema =
      if (m.colIds.isEmpty) keySchema
      else { ensureFieldIdRead(spark); stampSchema(keySchema, m.colIds) }
    val absByRel = cands.map { case (_, rel, abs) => rel -> abs }.toMap
    // ONE probe job over all affected files, the per-file scoping
    // folded into broadcast joins (no per-sidecar-set job fan-out):
    // a row is dead iff some sidecar holding its key covers its file's
    // epoch ordinal. Doomed keys tag the HIGHEST covering ordinal of
    // their own hash bucket (coverage is a prefix: sidecar (b, upTo)
    // kills ordinals < upTo, so max-upTo per key is exact); file rows
    // tag their ordinal via a broadcast (relKey, ord) frame.
    import spark.implicits._
    val ordDf = broadcast(
      cands.map { case (ord, rel, _) => (rel, ord) }
        .toDF("__graft_file", "__ord"))
    // (sidecar, bucket, upTo) — the scoping table
    val scopeDf = broadcast(m.eqds.toSeq.flatMap { case (b, ds) =>
      ds.map(d => (d.sidecar, b, d.upTo))
    }.toDF("__sid", "__b", "__u"))
    val sidecars = m.eqds.valuesIterator.flatten.map(_.sidecar)
      .toSeq.distinct.sorted
    val doomed = broadcast(sidecars.map { s =>
        eqdKeysDf(spark, root, m, Seq(s)).withColumn("__sid", lit(s))
      }.reduce(_ unionByName _)
      .withColumn("__b",
        pmod(hash(m.keyCols.map(col): _*), lit(m.buckets)))
      .join(scopeDf, Seq("__sid", "__b"))
      .groupBy(m.keyCols.map(col): _*)
      .agg(max(col("__u")).as("__u")))
    spark.read.schema(readSchema).parquet(cands.map(_._3): _*)
      .withColumn("__graft_file",
        substring_index(col("_metadata.file_path"), "/", -3))
      .withColumn("__graft_pos", col("_metadata.row_index"))
      .join(ordDf, Seq("__graft_file"))
      .join(doomed, m.keyCols)
      .where(col("__ord") < col("__u"))
      .select(col("__graft_file"), col("__graft_pos"))
      .collect().toSeq
      .map(r => absByRel(r.getString(0)) -> r.getLong(1))
      .groupBy(_._1).map { case (p, xs) =>
        val a = xs.map(_._2).toArray
        java.util.Arrays.sort(a)
        p -> a
      }
  }

  /** Merge two dead-position maps (position DVs + resolved equality
    * deletes) into one per-file sorted skip array.
    */
  private[sources] def mergeDeadMaps(a: Map[String, Array[Long]],
                                     b: Map[String, Array[Long]])
      : Map[String, Array[Long]] =
    if (a.isEmpty) b else if (b.isEmpty) a
    else (a.keySet ++ b.keySet).iterator.map { k =>
      val merged = (a.getOrElse(k, Array.empty[Long]) ++
        b.getOrElse(k, Array.empty[Long])).distinct
      java.util.Arrays.sort(merged)
      k -> merged
    }.toMap

  /** The DV-aware read core behind [[readWithSchema]]: splits the asked
    * paths into DV-free reads (ONE native multi-path parquet relation —
    * the unchanged hot path) and per-DV'd-file reads filtered by a
    * binary search of the file's sorted dead positions (one referenced
    * `long[]` per file — [[graft.functions.VectorExpressions
    * .NotInSortedLongs]], O(log n)/row, plan-size ∝ nothing), then
    * unions. `withPos` additionally surfaces each row's relative file
    * key and position as `__graft_file`/`__graft_pos` (the DV WRITE path
    * needs them; metadata columns do not survive a union, so they must
    * be projected per relation).
    */
  private def readDvAware(spark: SparkSession, m: Manifest, root: String,
                          paths: Seq[String], withPos: Boolean): DataFrame = {
    val refs = if (m.schema.isEmpty) Map.empty[String, FileStat]
               else dvFileRefs(m)
    def posCols(df: DataFrame): DataFrame =
      if (!withPos) df
      else df
        .withColumn("__graft_file",
          substring_index(col("_metadata.file_path"), "/", -3))
        .withColumn("__graft_pos", col("_metadata.row_index"))
    if (refs.isEmpty) return posCols(readPlain(spark, m, paths))
    // classify only to find WHICH DV refs the requested paths can reach
    // (a path is a single file or a bucket directory) — sidecar JSONs of
    // unreachable files stay unread
    def suffixMatch(p: String, suffix: String): Boolean =
      p == suffix || p.endsWith("/" + suffix)
    val dirOfRef: Map[String, Seq[String]] = refs.keys.toSeq
      .groupBy(k => k.substring(0, k.lastIndexOf('/')))
    val relevant = scala.collection.mutable.LinkedHashSet.empty[String]
    paths.foreach { p =>
      if (p.endsWith(".parquet"))
        refs.keys.find(suffixMatch(p, _)).foreach(relevant += _)
      else
        dirOfRef.keys.find(suffixMatch(p, _))
          .foreach(d => relevant ++= dirOfRef(d))
    }
    if (relevant.isEmpty) return posCols(readPlain(spark, m, paths))
    val positions = dvPositions(fsFor(spark, root), root,
      refs.filter { case (k, _) => relevant.contains(k) })
    val dead = new java.util.HashMap[String, Array[Long]]()
    positions.foreach { case (k, ps) =>
      val a = ps.clone(); java.util.Arrays.sort(a); dead.put(k, a) }
    // ONE scan of every requested path with a per-row liveness filter
    // against the referenced per-file dead map (sorted long[] binary
    // search; files without an entry — every clean sibling — are wholly
    // live). Replaces the old per-DV'd-file UNION of single-file scans:
    // plan size O(1) in the DV'd-file count, one scan leg instead of N
    // jobs' worth of AQE stages, and the generated code is
    // byte-identical across commits so the codegen cache serves every
    // DV read from one compile.
    val base = readPlain(spark, m, paths)
      .withColumn("__graft_file",
        substring_index(col("_metadata.file_path"), "/", -3))
      .withColumn("__graft_pos", col("_metadata.row_index"))
      .where(graft.functions.VectorExpressions.alive_after_dv(
        col("__graft_file"), col("__graft_pos"), dead))
    if (withPos) base else base.drop("__graft_file", "__graft_pos")
  }

  /** Read committed epoch data with the manifest-recorded schema — a
    * zero-job plan step, vs. `mergeSchema=true`'s distributed footer-merge
    * (O(files) tasks on EVERY read of EVERY table). Pre-schema manifests
    * (legacy) fall back to the footer merge once; their next commit
    * records the schema. DV-bearing manifests route through the
    * deletion-vector filter ([[readDvAware]]) — dead rows are invisible
    * to every read built on this core (snapshots, point lookups, range
    * reads, feeds, compaction/split survivor reads).
    */
  private def readWithSchema(spark: SparkSession, m: Manifest, root: String,
                             paths: Seq[String]): DataFrame =
    if (!hasLiveDvs(m) && !hasLiveEqds(m)) readPlain(spark, m, paths)
    else readFiltered(spark, m, root, paths, withPos = false)

  /** The full merge-on-read filter stack: deletion-vector position
    * skipping ([[readDvAware]]) PLUS equality-delete key filtering.
    * Paths group by their applicable sidecar set (the bucket + epoch
    * ordinal scoping of [[applicableEqds]] — a commit's own overlay is
    * exempt from the eq-deletes committed beside it); each group with
    * doomed keys anti-joins them away (broadcast — sidecars are
    * key-cap-bounded by construction), groups without pay nothing.
    * Every keyed read (snapshots, point lookups, feeds, compaction
    * survivor reads, CoW rewrites) comes through here, so a blind
    * eq-delete is invisible everywhere the moment its manifest lands.
    */
  private def readFiltered(spark: SparkSession, m: Manifest, root: String,
                           paths: Seq[String], withPos: Boolean): DataFrame = {
    if (!hasLiveEqds(m)) return readDvAware(spark, m, root, paths, withPos)
    // (epoch, bucket) of a table-root-relative data path — every caller
    // builds paths as `$root/$epoch/__bucket=$b[/$file]`
    def epochBucketOf(p: String): (String, Int) = {
      val rel = p.stripPrefix(root).stripPrefix("/")
      val segs = rel.split('/')
      require(segs.length >= 2 && segs(1).startsWith(BucketCol + "="),
        s"equality deletes: unrecognized data path shape $p under $root")
      (segs(0), segs(1).substring(BucketCol.length + 1).toInt)
    }
    val groups: Seq[(Seq[String], Seq[String])] = paths.groupBy { p =>
      val (e, b) = epochBucketOf(p)
      applicableEqds(m, b, e)
    }.toSeq.sortBy(_._1.mkString(","))
    groups.map { case (sids, ps) =>
      val base = readDvAware(spark, m, root, ps, withPos)
      if (sids.isEmpty) base
      else base.join(broadcast(eqdKeysDf(spark, root, m, sids)),
        m.keyCols, "left_anti")
    }.reduce(_ union _)
  }

  // ---- stable column identity (parquet field ids) --------------------------

  /** The parquet-native field-id metadata key (`parquet.field.id`):
    * Spark's writer stamps it into file footers
    * (`spark.sql.parquet.fieldId.write.enabled`, default on) and its
    * reader matches columns BY ID instead of name when the requested
    * schema carries it — the public mechanism behind Iceberg field IDs
    * and Delta column-mapping `id` mode, and what makes RENAME/DROP
    * COLUMN metadata-only here (see [[Manifest.colIds]]).
    */
  private[sources] val FieldIdKey = "parquet.field.id"

  private def withFieldId(f: StructField, id: Long): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putLong(FieldIdKey, id).build())

  /** The clean logical schema annotated with the table's field ids — the
    * schema handed to the PHYSICAL parquet reader/writer only; never
    * surfaced to users (ids leak as duplicate-id hazards in derived
    * frames — a self-join or a CDC old_/new_ projection would carry two
    * columns with one id into the user's own parquet writes).
    */
  private[sources] def stampSchema(s: StructType,
                                   ids: Map[String, Long]): StructType =
    if (ids.isEmpty) s
    else StructType(s.fields.map(f =>
      ids.get(f.name).fold(f)(withFieldId(f, _))))

  /** Stamp a frame's columns with the table's field ids (one zero-cost
    * metadata projection) so the epoch write records them in the file
    * footers. Columns without an assigned id (none, normally) lose any
    * stray id metadata they carried in from another table's read.
    */
  private def stampFrame(df: DataFrame, ids: Map[String, Long]): DataFrame =
    if (ids.isEmpty) df
    else df.select(df.schema.fields.map { f =>
      val mb = new MetadataBuilder().withMetadata(f.metadata)
        .remove(FieldIdKey)
      ids.get(f.name).foreach(mb.putLong(FieldIdKey, _))
      col(f.name).as(f.name, mb.build())
    }.toIndexedSeq: _*)

  /** Strip field-id metadata from a frame's public surface (a no-op
    * unless some column carries it).
    */
  private def stripFrame(df: DataFrame): DataFrame =
    if (!df.schema.fields.exists(_.metadata.contains(FieldIdKey))) df
    else df.select(df.schema.fields.map { f =>
      if (!f.metadata.contains(FieldIdKey)) col(f.name)
      else col(f.name).as(f.name, new MetadataBuilder()
        .withMetadata(f.metadata).remove(FieldIdKey).build())
    }.toIndexedSeq: _*)

  private def stripSchemaIds(s: StructType): StructType =
    if (!s.fields.exists(_.metadata.contains(FieldIdKey))) s
    else StructType(s.fields.map(f =>
      if (!f.metadata.contains(FieldIdKey)) f
      else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .remove(FieldIdKey).build())))

  /** Enable parquet field-id READ matching for this session (idempotent,
    * set on first touch of an id-stamped table — the
    * `nanosAsLong` precedent). A no-op for requested schemas without id
    * metadata, so plain parquet reads are untouched.
    */
  private[sources] def ensureFieldIdRead(spark: SparkSession): Unit = {
    val k = "spark.sql.parquet.fieldId.read.enabled"
    if (!spark.conf.getOption(k).contains("true")) spark.conf.set(k, "true")
  }

  /** Rename a frame read at one manifest's schema into another
    * manifest's column names by SHARED FIELD ID (the old side of a
    * change feed that spans a rename), dropping columns whose id the
    * target no longer carries. Identity when either side is not
    * id-stamped.
    */
  private def alignToIds(df: DataFrame, from: Manifest,
                         to: Manifest): DataFrame =
    if (from.colIds.isEmpty || to.colIds.isEmpty) df
    else {
      val toNameById = to.colIds.map { case (n, id) => id -> n }
      val picks = df.schema.fields.toIndexedSeq.flatMap { f =>
        from.colIds.get(f.name) match {
          case Some(id) => toNameById.get(id)
            .map(nn => col(f.name).as(nn, f.metadata)) // dropped id: omit
          case None => Some(col(f.name))
        }
      }
      df.select(picks: _*)
    }

  /** Table-root contents that predate the manifest protocol (a plain or
    * `__bucket=`-partitioned parquet table).
    */
  private def legacyData(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      (st.isDirectory && n.startsWith(BucketCol + "=")) ||
        (!st.isDirectory && n.startsWith("part-"))
    }

  /** MERGE: rows in `incoming` replace existing rows with the same key;
    * all other existing rows survive. Equivalent to
    * `MERGE INTO target USING incoming ON keys WHEN MATCHED UPDATE WHEN NOT
    * MATCHED INSERT`, committed atomically via the manifest protocol above.
    *
    * `buckets` applies on table creation; an existing table keeps its
    * stored bucket count (changing it would reshuffle every key).
    *
    * Concurrency contract — OPTIMISTIC: writers that touch DISJOINT
    * bucket sets all succeed, serialized by the version-CAS commit with
    * rebase-and-retry (see [[writeEpochAndCommit]]); writers contending
    * for a bucket fail loudly with `ConcurrentModificationException`
    * (the merge read stale survivors — re-run it), never corrupt.
    * [[gc]]'s orphan-age guard keeps a mid-commit writer's staged epoch
    * alive through its retry window. Readers are safe throughout
    * ([[KeepManifests]] keeps the previous version's epochs alive
    * through the next commit).
    */
  def merge(spark: SparkSession, tablePath: String, incoming: DataFrame,
            keys: Seq[String], buckets: Int = 64,
            evolveSchema: Boolean = false,
            autoCompactEpochs: Int = AutoCompactEpochs,
            clusterBy: Seq[String] = Seq.empty,
            autoSplitBytesPerBucket: Long = AutoSplitBytesPerBucket,
            bloomBy: Seq[String] = Seq.empty,
            bloomItems: Long = DefaultBloomItems,
            txn: Option[(String, Long)] = None,
            fingerprint: Boolean = false,
            deleteVectors: Boolean = false,
            // seed the WRITE-ONLY merge-on-read policy at creation
            // (equality-delete sidecars instead of position probes;
            // implies deleteVectors — see [[Manifest.eqDeletes]])
            eqDeletes: Boolean = false,
            // target a STAGING BRANCH instead of main (see
            // [[createBranch]]): reads-for-merge resolve against the
            // branch head, the commit lands on the branch lineage, and
            // main's state/history are untouched until [[fastForward]]
            ref: Option[String] = None,
            // statement-level duplicate-key guard FUSED into the
            // touched-buckets job (one pass over the persisted batch
            // instead of guardUniqueKeys' separate source scan): the
            // per-bucket agg also tracks the max per-key multiplicity,
            // and only a detected duplicate pays the detailed
            // requireUniqueKeys error pass. Because the check reads the
            // SAME persisted rows the write consumes, it is sound for
            // non-deterministic sources without an extra pin.
            assertUnique: Option[String] = None): Unit = {
    require(keys.nonEmpty, "merge requires at least one key column")
    require(!incoming.columns.contains(BucketCol),
      s"merge: incoming frame must not contain reserved column '$BucketCol'")
    // bloomBy applies at table CREATION (like clusterBy); validate the
    // declared columns NOW — a typo'd or float-typed bloom column would
    // otherwise silently record filters no probe can ever use
    bloomBy.foreach { c =>
      val f = incoming.schema.fields.find(_.name == c)
      require(f.isDefined, s"merge: bloomBy column '$c' is not in the " +
        s"incoming schema ${incoming.columns.mkString("(", ",", ")")}")
      require(bloomPutKind(f.get.dataType).isDefined,
        s"merge: bloomBy column '$c' has unsupported type " +
          s"${f.get.dataType.simpleString} (supported: integral, date, " +
          "timestamp, string)")
    }
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    ref.foreach { b =>
      requireBranchName("merge", b)
      require(branchHead(fs, dir, b).isDefined,
        s"merge: no branch '$b' on $tablePath — createBranch first")
    }
    // legacy pre-manifest table: migrate with one full rewrite into the
    // manifest layout, then merge bucket-locally ever after
    if (ref.isEmpty && currentManifest(fs, dir).isEmpty && legacyData(fs, dir)) {
      // the root-level legacy files are reclaimed by gc() after this
      // merge commits (and by any later merge if this process dies first)
      // one-time migration read: mergeSchema merges heterogeneous legacy
      // footers (files written across an additive evolution) — runs once
      // per table, so the O(files) footer-job cost argument does not apply
      val legacy = spark.read.option("mergeSchema", "true")
        .parquet(tablePath).drop(BucketCol)
      writeEpochAndCommit(spark, fs, tablePath, legacy, keys, buckets, None,
        clusterCols = clusterBy, bloomCols = bloomBy, bloomN = bloomItems)
    }
    val m = refCurrent(fs, dir, ref)
    m.foreach(validateKeys(_, keys, "merge"))
    // keyed merge is replay-IDEMPOTENT by construction, so the optional
    // txn id is belt-and-braces for streaming sinks: it makes a
    // redelivered batch a zero-I/O skip instead of a no-op rewrite
    if (txn.exists(t => m.exists(_.txns.get(t._1).exists(_ >= t._2)))) return
    // clusterBy applies at table CREATION (like `buckets`); an existing
    // table keeps its recorded clustering
    val cluster = m.map(_.clusterCols).getOrElse(clusterBy)
    val nb = m.map(_.buckets).getOrElse(buckets)
    // IDENTITY assignment + GENERATED-column compute/validate precede
    // bucketing: an assigned or computed value may BE a merge key, and
    // its bucket must derive from the FINAL value
    val incomingAssigned = applyDeclaredColumns(incoming, m, tablePath)
    val inc = incomingAssigned
      .withColumn(BucketCol, pmod(hash(keys.map(col): _*), lit(nb)))
      .persist()
    try {
      // ONE bounded metadata job (≤ `nb` rows) answers both "is the batch
      // empty" and "which buckets are touched" — merging zero rows is a
      // no-op and must not CREATE the table (streaming append sinks
      // routinely deliver empty early batches). With `assertUnique` the
      // same job additionally proves per-key uniqueness (per-bucket max
      // multiplicity ≤ 1): keys hash into one bucket, so a duplicate is
      // always bucket-local.
      val touchedCounts: Map[Int, Long] = assertUnique match {
        case Some(stmt) =>
          val per = inc.groupBy((col(BucketCol) +: keys.map(col)): _*)
            .agg(count(lit(1)).as("__graft_kn"))
            .groupBy(col(BucketCol))
            .agg(max(col("__graft_kn")).as("__graft_mx"),
              sum(col("__graft_kn")).as("__graft_n"))
            .collect()
          if (per.exists(_.getLong(1) > 1L))
            requireUniqueKeys(inc, keys, stmt) // throws with key detail
          per.map(r => r.getInt(0) -> r.getLong(2)).toMap
        case None => touchedBucketCounts(inc)
      }
      val touched = touchedCounts.keys.toIndexedSeq.sorted
      if (touched.isEmpty) {
        // empty batches never CREATE a table, but on an existing table a
        // txn-carrying empty batch still records its guard (else a
        // redelivery WITH rows would re-apply) — mergeAdditive's rule;
        // a branch-targeted guard lands on the branch lineage (and
        // publishes to main with the rest of the staged ledger)
        txn.foreach(t => if (m.isDefined) commitTxnGuard(fs, dir, t, ref))
        return
      }
      m match {
        case None =>
          writeEpochAndCommit(spark, fs, tablePath, inc.drop(BucketCol),
            keys, nb, None, txn, clusterCols = cluster, bloomCols = bloomBy,
            bloomN = bloomItems, fpSeed = fingerprint,
            dvSeed = deleteVectors || eqDeletes,
            eqdSeed = eqDeletes)
        case Some(man) =>
          // MERGE-ON-READ fast path (deleteVectors tables, small batch):
          // the incoming rows land as ONE overlay epoch, the replaced
          // keys' old positions die by deletion vector — write I/O
          // ∝ the batch, not the touched buckets. morApply returns
          // false (fall through to copy-on-write) when the batch is too
          // large to stay metadata-sized, the schema moved, or stats
          // are missing — same dispatch shape as delete()/applyChanges().
          // eqDeletes tables take the WRITE-ONLY path (doomed-key
          // sidecar, no probe read); plain deleteVectors tables resolve
          // positions; both fall through to copy-on-write on cap/schema
          if (!(man.deleteVectors && !evolveSchema &&
                (if (man.eqDeletes)
                  labeled(spark, "graft.eqd-apply") {
                    eqdApply(spark, fs, tablePath, man, Some(inc), None, keys,
                      touched, txn, ref = ref,
                      incTotalHint = Some(touchedCounts.values.sum))
                  }
                else labeled(spark, "graft.mor-apply") {
                  morApply(spark, fs, tablePath, man, inc, None, keys,
                    touched, txn, ref = ref,
                    incTotalHint = Some(touchedCounts.values.sum))
                }))) {
            // manifest-level pruning: read ONLY the touched buckets' dirs
            val existingPaths = touched.flatMap(b =>
              (if (man.epochs.contains(b)) bucketDirPaths(tablePath, man, b)
               else Seq.empty))
            val survivors =
              if (existingPaths.isEmpty) None
              else Some(readWithSchema(spark, man, tablePath, existingPaths)
                .join(antiKeySide(inc, keys, touchedCounts.values.sum), keys,
                  "left_anti"))
            val merged = survivors match {
              case None => inc.drop(BucketCol)
              case Some(sv) if evolveSchema =>
                // ADDITIVE schema evolution (Delta mergeSchema): a column
                // present on only one side null-fills on the other, so
                // old rows read NULL in newly-added columns. Renames and
                // type changes are out of scope — a type conflict fails
                // loudly in the union.
                sv.unionByName(inc.drop(BucketCol),
                  allowMissingColumns = true)
              case Some(sv) =>
                sv.unionByName(
                  inc.select(sv.columns.map(col).toIndexedSeq: _*))
            }
            writeEpochAndCommit(spark, fs, tablePath, merged, keys, nb,
              Some(man), txn, clusterCols = cluster, fpSeed = fingerprint,
              ref = ref)
          }
      }
      if (ref.isEmpty) {
        // branch staging defers maintenance to the publish: gc would
        // need the branch refs anyway, and compaction/split churn on a
        // short-lived staging lineage is wasted work
        labeled(spark, "graft.maintain") {
          gc(fs, dir)
          maybeAutoSplit(spark, fs, dir, tablePath, autoSplitBytesPerBucket)
          maybeAutoCompact(spark, fs, dir, tablePath, autoCompactEpochs)
          maybeAutoCompactMor(spark, fs, dir, tablePath)
        }
      }
    } finally { inc.unpersist(); () }
  }

  /** Exactly-once ADDITIVE merge — incremental rollup maintenance: the
    * stored table holds partial aggregates (counts, sums) and each delta
    * batch FOLDS IN (matched keys add, new keys insert) instead of
    * replacing. Unlike [[merge]]/[[mergeVersioned]], re-applying a batch
    * is NOT naturally idempotent (it would double-count), so each batch
    * carries a `(appId, batchVersion)` transaction id recorded in the
    * manifest's txn ledger: a batch at or below the app's recorded
    * version is skipped entirely, and because the ledger rides the same
    * atomic manifest rename as the folded data, a crash can never record
    * without applying or apply without recording — exactly-once under
    * at-least-once delivery, the same contract as Delta's transaction
    * identifiers.
    *
    * `delta` must be one row per key (pre-aggregate upstream) and carry
    * exactly `keys ++ addCols`; addCols fold with SUM. I/O is O(touched
    * buckets), as in [[merge]]. Single-writer per table; additionally,
    * one app id must be a single logical stream (its versions strictly
    * increase).
    */
  def mergeAdditive(spark: SparkSession, tablePath: String, delta: DataFrame,
                    keys: Seq[String], addCols: Seq[String],
                    txn: (String, Long), buckets: Int = 64,
                    autoCompactEpochs: Int = AutoCompactEpochs,
                    autoSplitBytesPerBucket: Long = AutoSplitBytesPerBucket): Unit = {
    require(keys.nonEmpty, "mergeAdditive requires at least one key column")
    require(addCols.nonEmpty, "mergeAdditive requires additive columns")
    require(delta.columns.sorted.sameElements((keys ++ addCols).sorted),
      s"mergeAdditive: delta must carry exactly keys ++ addCols " +
        s"(got ${delta.columns.mkString(",")})")
    require(!delta.columns.contains(BucketCol),
      s"mergeAdditive: delta must not contain reserved column '$BucketCol'")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val m = currentManifest(fs, dir)
    m.foreach(validateKeys(_, keys, "mergeAdditive"))
    if (m.exists(_.txns.get(txn._1).exists(_ >= txn._2))) return // replay
    val nb = m.map(_.buckets).getOrElse(buckets)
    val inc = delta
      .withColumn(BucketCol, pmod(hash(keys.map(col): _*), lit(nb)))
      .persist()
    try {
      val touched = touchedBuckets(inc)
      if (touched.isEmpty) {
        // an empty batch is applied by definition — but its txn must
        // still be recorded, or a redelivery with rows would double-apply
        if (m.isDefined) commitTxnGuard(fs, dir, txn)
        return
      }
      val cols = (keys ++ addCols).map(col)
      val folded = m match {
        case None => inc.drop(BucketCol)
        case Some(man) =>
          val existingPaths = touched.flatMap(b =>
            (if (man.epochs.contains(b)) bucketDirPaths(tablePath, man, b)
             else Seq.empty))
          if (existingPaths.isEmpty) inc.drop(BucketCol)
          else readWithSchema(spark, man, tablePath, existingPaths).select(cols: _*)
            .unionByName(inc.drop(BucketCol).select(cols: _*))
            .groupBy(keys.map(col): _*)
            .agg(sum(addCols.head).as(addCols.head),
              addCols.tail.map(c => sum(c).as(c)): _*)
      }
      writeEpochAndCommit(spark, fs, tablePath, folded, keys, nb, m, Some(txn),
        opName = "mergeAdditive")
      gc(fs, dir)
      maybeAutoSplit(spark, fs, dir, tablePath, autoSplitBytesPerBucket)
      maybeAutoCompact(spark, fs, dir, tablePath, autoCompactEpochs)
      maybeAutoCompactMor(spark, fs, dir, tablePath)
    } finally { inc.unpersist(); () }
  }

  /** Atomic full replace (`INSERT OVERWRITE` / Delta's
    * `mode("overwrite")`): commit the batch as the table's ENTIRE next
    * version in ONE manifest flip — the new epoch's buckets become the
    * whole epoch map and every previous bucket pointer drops, so a
    * reader sees the old state or the new state, never a mix; the
    * superseded epochs stay readable through retained versions (time
    * travel across the overwrite) until gc ages them out. An EMPTY
    * batch is a truncate. Keys/clustering/blooms follow [[merge]]'s
    * creation-vs-existing rules; the optional `txn` makes a replayed
    * overwrite a zero-I/O skip.
    */
  def overwriteTable(spark: SparkSession, tablePath: String,
                     rows: DataFrame, keys: Seq[String], buckets: Int = 64,
                     clusterBy: Seq[String] = Seq.empty,
                     bloomBy: Seq[String] = Seq.empty,
                     bloomItems: Long = DefaultBloomItems,
                     txn: Option[(String, Long)] = None,
                     relayout: Boolean = false,
                     fingerprint: Boolean = false,
                     deleteVectors: Boolean = false,
                     eqDeletes: Boolean = false,
                     expectFresh: Boolean = false,
                     shred: Seq[ShredSpec] = Seq.empty): Unit = {
    require(keys.nonEmpty, "overwriteTable requires at least one key column")
    require(!rows.columns.contains(BucketCol),
      s"overwriteTable: frame must not contain reserved column '$BucketCol'")
    if (shred.nonEmpty)
      validateShred(stripSchemaIds(rows.schema), shred, "overwriteTable")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val m = currentManifest(fs, dir)
    // a FRESH CTAS must never adopt-and-replace a table that committed
    // at this path after the stage-time emptiness check (a racing
    // CREATE at the same LOCATION): with no prior manifest the commit
    // below is a version-1 CAS (single winner); with one, fail loudly
    // instead of silently destroying the other statement's data
    if (expectFresh) m.foreach { prev =>
      throw new IllegalStateException(
        s"overwriteTable: $tablePath already holds a committed table " +
          s"(version ${prev.version}) — a fresh CREATE cannot adopt or " +
          "replace it")
    }
    m.foreach(validateKeys(_, keys, "overwriteTable"))
    if (txn.exists(t => m.exists(_.txns.get(t._1).exists(_ >= t._2)))) return
    // relayout (REPLACE TABLE AS SELECT): the DECLARED layout replaces
    // the recorded one — bucket modulus, clustering, and Blooms all take
    // the caller's values, committed with the data in one version. The
    // default (INSERT OVERWRITE) keeps the table's recorded layout.
    val nb = if (relayout) buckets else m.map(_.buckets).getOrElse(buckets)
    val cluster =
      if (relayout) clusterBy else m.map(_.clusterCols).getOrElse(clusterBy)
    val base = if (relayout)
      m.map(_.copy(buckets = nb, clusterCols = cluster,
        bloomCols = bloomBy, bloomItems = bloomItems,
        fingerprint = fingerprint,
        deleteVectors = deleteVectors || eqDeletes, eqDeletes = eqDeletes,
        shredCols = shred))
    else m
    // IDENTITY assignment + GENERATED compute/validate for the
    // replacing rows; an overwrite does NOT reset the high-water —
    // freed values are never reissued (Delta's semantics)
    val rowsAssigned = applyDeclaredColumns(rows, m, tablePath)
    writeEpochAndCommit(spark, fs, tablePath, rowsAssigned, keys, nb, base,
      txn,
      dropBuckets = m.map(_.epochs.keySet).getOrElse(Set.empty),
      clusterCols = cluster, bloomCols = bloomBy, bloomN = bloomItems,
      opName = "overwrite", fpSeed = fingerprint,
      dvSeed = deleteVectors || eqDeletes, eqdSeed = eqDeletes,
      shredSeed = shred)
    gc(fs, dir)
  }

  /** CREATE TABLE: commit an EMPTY manifest carrying the declared
    * schema and layout (merge keys, bucket modulus, clustering, Bloom
    * columns) with no data files — the metadata-only table creation SQL
    * `CREATE TABLE ... USING graft` needs (Delta's create-then-write
    * shape). Every later write validates against and inherits this
    * recorded layout; reads of the empty table see zero rows of the
    * declared schema. Fails if the path already holds a committed
    * table; the manifest CAS makes a creation race single-winner.
    */
  def createTable(spark: SparkSession, tablePath: String,
                  schema: StructType, keys: Seq[String], buckets: Int = 64,
                  clusterBy: Seq[String] = Seq.empty,
                  bloomBy: Seq[String] = Seq.empty,
                  bloomItems: Long = DefaultBloomItems,
                  retainVersions: Int = KeepManifests,
                  retainMs: Long = 0L,
                  fingerprint: Boolean = false,
                  deleteVectors: Boolean = false,
                  eqDeletes: Boolean = false,
                  shred: Seq[ShredSpec] = Seq.empty): Unit = {
    require(keys.nonEmpty, "createTable requires at least one key column")
    validateShred(schema, shred, "createTable")
    identitySpecs(schema).foreach { case (c, (_, step)) =>
      import org.apache.spark.sql.types._
      val f = schema(schema.fieldIndex(c))
      require(f.dataType == LongType || f.dataType == IntegerType ||
          f.dataType == ShortType,
        s"createTable: identity column '$c' must be integral, got " +
          f.dataType.simpleString)
      require(step != 0L, s"createTable: identity column '$c' has step 0")
      val info = org.apache.spark.sql.catalyst.util.IdentityColumn
        .getIdentityInfo(f).get
      require(info.isAllowExplicitInsert,
        s"createTable: identity column '$c' is GENERATED ALWAYS — on a " +
          "keyed-upsert table every merge restates its keys, so " +
          "always-generated is unwritable; declare GENERATED BY DEFAULT " +
          "AS IDENTITY")
    }
    locally {
      val gens = generatedSpecs(schema)
      gens.foreach { case (c, g) =>
        val refs = scala.util.Try(
          spark.sessionState.sqlParser.parseExpression(g).collect {
            case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.nameParts.head
          }).getOrElse(throw new IllegalArgumentException(
            s"createTable: generated column '$c' has an unparseable " +
              s"expression ($g)"))
        refs.foreach { r =>
          require(schema.fieldNames.exists(_.equalsIgnoreCase(r)),
            s"createTable: generated column '$c' references unknown " +
              s"column '$r'")
          require(!r.equalsIgnoreCase(c),
            s"createTable: generated column '$c' references itself")
          require(!gens.keys.exists(_.equalsIgnoreCase(r)),
            s"createTable: generated column '$c' references generated " +
              s"column '$r' — generation expressions must use stored " +
              "columns only")
        }
      }
    }
    val names = schema.fieldNames.toSet
    keys.foreach(k => require(names.contains(k),
      s"createTable: key column '$k' is not in the declared schema " +
        names.toSeq.sorted.mkString("(", ",", ")")))
    bloomBy.foreach { c =>
      val f = schema.fields.find(_.name == c)
      require(f.isDefined, s"createTable: bloomBy column '$c' is not in " +
        "the declared schema")
      require(bloomPutKind(f.get.dataType).isDefined,
        s"createTable: bloomBy column '$c' has unsupported type " +
          f.get.dataType.simpleString)
    }
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    require(currentManifest(fs, dir).isEmpty,
      s"createTable: $tablePath already holds a committed graft table")
    fs.mkdirs(dir)
    val clean = stripSchemaIds(schema)
    commitManifest(fs, dir, Manifest(1L, buckets, Map.empty, Map.empty,
      Some(clean.json), keys, clusterBy, Map.empty, bloomBy, bloomItems,
      "create", System.currentTimeMillis(),
      math.max(KeepManifests, retainVersions), math.max(0L, retainMs),
      fingerprint,
      // an empty table trivially holds no NULL key, and every later
      // epoch writes through the enforcing path
      keysChecked = true,
      // born id-stamped: every epoch this table ever writes carries
      // field ids, so RENAME/DROP COLUMN are metadata-only from day one
      colIds = clean.fields.zipWithIndex
        .map { case (f, i) => f.name -> (i + 1L) }.toMap,
      nextColId = clean.fields.length + 1L,
      deleteVectors = deleteVectors || eqDeletes,
      eqDeletes = eqDeletes,
      shredCols = shred))
  }

  /** The touched-bucket set of a bucketed incoming frame — one bounded
    * metadata job (≤ bucket-count rows; empty batch → empty seq), shared
    * by [[merge]] and [[mergeVersioned]] so emptiness and pruning don't
    * pay two scans.
    */
  /** Key-count bound under which a CoW rewrite's survivor anti-join
    * broadcasts the batch's key set instead of shuffle-joining it: the
    * survivor scan then pays NO Exchange and NO sort (guide §3.1), and
    * the build side stays ≤ ~30 MB framed. Batches past the bound keep
    * the sort-merge join (correct at any scale).
    */
  private val BroadcastKeyMax: Long = 1L << 20

  private def antiKeySide(inc: DataFrame, keys: Seq[String],
                          total: Long): DataFrame = {
    val kf = inc.select(keys.map(col): _*).distinct()
    if (total <= BroadcastKeyMax) broadcast(kf) else kf
  }

  /** One bounded metadata job (≤ buckets rows) yielding the touched
    * buckets WITH their batch row counts — the counts ride along for
    * free, so the DV/eqd cap probes downstream never pay a second
    * `limit(cap).count()` pass over the batch (guide §1.2: don't
    * compute things twice).
    */
  private def touchedBucketCounts(inc: DataFrame): Map[Int, Long] =
    labeled(inc.sparkSession, "graft.touched") {
      inc.groupBy(col(BucketCol)).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }

  private def touchedBuckets(inc: DataFrame): IndexedSeq[Int] =
    touchedBucketCounts(inc).keys.toIndexedSeq.sorted

  /** Label the Spark jobs an engine phase submits (guide §1.5) so the
    * UI/profilers attribute them; thread-local, restores the caller's
    * description on exit. Zero semantic effect.
    */
  private def labeled[A](spark: SparkSession, label: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try f finally sc.setJobDescription(prev)
  }

  /** Merge into several INDEPENDENT tables concurrently: each target keeps
    * its per-table single-writer contract (paths must be distinct), and
    * submitting from separate threads lets the scheduler interleave the
    * per-merge jobs across idle cores — a multi-table load round's wall
    * clock drops toward its slowest member instead of the sum. The commit
    * of each table remains individually atomic; there is NO cross-table
    * transaction (same as running them sequentially) — when the batch
    * must flip several tables together, use [[mergeGroup]].
    */
  def mergeAll(spark: SparkSession,
               merges: Seq[(String, DataFrame, Seq[String])],
               buckets: Int = 64): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    require(merges.map(_._1).distinct.size == merges.size,
      "mergeAll: table paths must be distinct (single-writer per table)")
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(
      Future.sequence(merges.map { case (path, df, keys) =>
        Future(merge(spark, path, df, keys, buckets))
      }), Duration.Inf)
    ()
  }

  // -------------------------------------------------------------------
  // Cross-table atomic commit (group manifests)
  // -------------------------------------------------------------------

  private val GroupPrefix = "_group-manifest-"

  /** A GROUP manifest pins every member table's full bucket→epoch state
    * in one JSON at the group root — so updating several tables commits
    * in ONE atomic rename, the missing piece [[mergeAll]] documents: the
    * reference's L1 load transactionally deletes customFields rows AND
    * upserts states in one txn (`state_load_processor_aurora.ts:39-113`),
    * and per-table manifests cannot reproduce that (a crash between the
    * two commits leaves readers a torn state). Member tables live under
    * `groupPath/<name>/` with the same immutable epoch layout; they have
    * NO per-table manifest — the group manifest IS their commit point,
    * so a crash after any number of staged member epochs publishes
    * nothing. The group txn ledger gives the whole multi-table batch
    * exactly-once semantics under at-least-once delivery (the crashed
    * batch is simply redelivered; keyed merges make the re-stage
    * idempotent). Single writer per group; the rename-CAS still fails a
    * racing committer loudly.
    */
  private case class GroupManifest(version: Long,
                                   tables: Map[String, Manifest],
                                   txns: Map[String, Long],
                                   op: String = "",
                                   opTs: Long = 0L)

  private def readGroupManifest(fs: FileSystem, v: Long,
                                p: Path): GroupManifest = {
    val node = readJsonFile(fs, p)
    val tables = scala.collection.mutable.Map.empty[String, Manifest]
    node.get("tables").fields().forEachRemaining { t =>
      tables(t.getKey) = manifestFromNode(t.getValue, v)
    }
    val txns = scala.collection.mutable.Map.empty[String, Long]
    Option(node.get("txns")).foreach(_.fields().forEachRemaining { t =>
      txns(t.getKey) = t.getValue.asLong()
    })
    GroupManifest(v, tables.toMap, txns.toMap,
      Option(node.get("op")).map(_.asText()).getOrElse(""),
      Option(node.get("ts")).map(_.asLong()).getOrElse(0L))
  }

  private def currentGroupManifest(fs: FileSystem,
                                   dir: Path): Option[GroupManifest] =
    manifestFiles(fs, dir, GroupPrefix).lastOption.map { case (v, p) =>
      readGroupManifest(fs, v, p)
    }

  private def commitGroupManifest(fs: FileSystem, dir: Path,
                                  g: GroupManifest): Unit = {
    val body = new StringBuilder()
      .append("{\"txns\":{")
      .append(g.txns.toSeq.sortBy(_._1).map { case (a, v) =>
        jsonStr(a) + ":" + v
      }.mkString(","))
      .append("},\"tables\":{")
      .append(g.tables.toSeq.sortBy(_._1).map { case (n, m) =>
        jsonStr(n) + ":" + manifestBody(m)
      }.mkString(","))
      .append("}")
      .append(if (g.op.nonEmpty)
        ",\"op\":" + jsonStr(g.op) + ",\"ts\":" + g.opTs else "")
      .append("}").toString()
    publishAtomically(fs, dir,
      new Path(dir, f"$GroupPrefix${g.version}%016d.json"), body)
  }

  /** Stage one member table's merged state WITHOUT committing: write the
    * merged epoch under the member root and return the member's updated
    * manifest state for the caller to commit (in the group manifest's
    * single rename). Same keyed-replace semantics and touched-bucket
    * pruning as [[merge]]; an empty batch stages nothing and returns the
    * state unchanged.
    */
  private def stageMergeInto(spark: SparkSession, fs: FileSystem,
                             tableRoot: String, st: Option[Manifest],
                             incoming: DataFrame, keys: Seq[String],
                             buckets: Int,
                             clusterBy: Seq[String] = Seq.empty,
                             evolveSchema: Boolean = false,
                             bloomBy: Seq[String] = Seq.empty,
                             bloomItems: Long = DefaultBloomItems,
                             // seeds apply at member CREATION only (like
                             // clusterBy); an existing member keeps its
                             // recorded flags
                             eqdSeed: Boolean = false)
      : Option[Manifest] = {
    require(keys.nonEmpty, "mergeGroup requires at least one key column")
    require(!incoming.columns.contains(BucketCol),
      s"mergeGroup: incoming frame must not contain reserved column '$BucketCol'")
    st.foreach(validateKeys(_, keys, "mergeGroup"))
    bloomBy.foreach { c =>
      val f = incoming.schema.fields.find(_.name == c)
      require(f.isDefined && bloomPutKind(f.get.dataType).isDefined,
        s"mergeGroup: bloomBy column '$c' missing or of unsupported type")
    }
    val nb = st.map(_.buckets).getOrElse(buckets)
    val inc = incoming
      .withColumn(BucketCol, pmod(hash(keys.map(col): _*), lit(nb)))
      .persist()
    try {
      val touchedCounts = touchedBucketCounts(inc)
      val touched = touchedCounts.keys.toIndexedSeq.sorted
      if (touched.isEmpty) return st
      // WRITE-ONLY staging for eqDeletes members (eqdApply at group
      // scope): the batch lands as one overlay epoch plus a doomed-key
      // sidecar, no survivor read — falls back to the CoW rewrite below
      // when the batch is too big, a touched stored bucket lacks stats,
      // or the schema moved. The group-manifest CAS stays the one
      // commit point either way.
      st.filter(_.eqDeletes).foreach { man =>
        stageEqdInto(spark, fs, tableRoot, man, inc, keys, touched,
          incTotalHint = Some(touchedCounts.values.sum))
          .foreach(staged => return Some(staged))
      }
      val merged = st match {
        case None => inc.drop(BucketCol)
        case Some(man) =>
          val existingPaths = touched.flatMap(b =>
            (if (man.epochs.contains(b)) bucketDirPaths(tableRoot, man, b)
             else Seq.empty))
          if (existingPaths.isEmpty) inc.drop(BucketCol)
          else {
            val sv = readWithSchema(spark, man, tableRoot, existingPaths)
              .join(antiKeySide(inc, keys, touchedCounts.values.sum), keys,
                "left_anti")
            // ADDITIVE schema evolution, same semantics as [[merge]]'s
            // evolveSchema: untouched rows null-fill the new columns
            if (evolveSchema)
              sv.unionByName(inc.drop(BucketCol), allowMissingColumns = true)
            else
              sv.unionByName(inc.select(sv.columns.map(col).toIndexedSeq: _*))
          }
      }
      val epoch = "e-" + UUID.randomUUID()
      // field-id stamping, the writeEpochAndCommit rule at member scope:
      // carried ids by name + fresh ids for evolved columns; a member
      // this commit creates is stamped from scratch; a legacy member
      // with surviving files stays name-world
      val cleanSchema = stripSchemaIds(merged.schema)
      val (memberIds, memberNext) = st match {
        case Some(p) if p.nextColId > 0L =>
          var n = p.nextColId
          val ids = cleanSchema.fields.map { f =>
            f.name -> p.colIds.getOrElse(f.name, { val v = n; n += 1; v })
          }.toMap
          (ids, n)
        case None =>
          (cleanSchema.fields.zipWithIndex
            .map { case (f, i) => f.name -> (i + 1L) }.toMap,
            cleanSchema.fields.length + 1L)
        case Some(_) => (Map.empty[String, Long], 0L)
      }
      val stamped =
        if (memberIds.isEmpty) stripFrame(merged)
        else stampFrame(merged, memberIds)
      // clusterBy applies at member CREATION (like `buckets`); an
      // existing member keeps its recorded clustering, empty included
      val cluster = st.map(_.clusterCols).getOrElse(clusterBy)
      val clustered = clusterSort(stamped
        .withColumn(BucketCol, bucketExprChecked(keys, nb))
        .repartition(col(BucketCol)), cluster)
      // shred declarations apply at member CREATION only through the
      // single-table API; an existing member's recorded shreds persist
      val shred = st.map(_.shredCols).getOrElse(Seq.empty)
      withShredCols(clustered, shred)
        .write.mode(SaveMode.ErrorIfExists).partitionBy(BucketCol)
        .parquet(s"$tableRoot/$epoch")
      val written = fs.listStatus(new Path(s"$tableRoot/$epoch")).toSeq
        .map(_.getPath.getName)
        .filter(_.startsWith(BucketCol + "="))
        .map(_.stripPrefix(BucketCol + "=").toInt)
      // bloomBy applies at member CREATION (like clusterBy); an existing
      // member keeps its recorded bloom columns
      val bloom = st.map(_.bloomCols).getOrElse(bloomBy)
      val bloomN = st.filter(_.bloomCols.nonEmpty).map(_.bloomItems)
        .getOrElse(bloomItems)
      if ((bloom.nonEmpty || shred.nonEmpty) && written.nonEmpty)
        writeBloomSidecar(spark, fs, s"$tableRoot/$epoch", bloom, bloomN,
          Some(cleanSchema.json), shred)
      val writtenSet = written.toSet
      Some(Manifest(0L, nb,
        st.map(_.epochs).getOrElse(Map.empty) ++ written.map(_ -> epoch),
        Map.empty, Some(cleanSchema.json), keys, cluster,
        st.map(_.stats).getOrElse(Map.empty) ++
          collectFileStats(fs, new Path(s"$tableRoot/$epoch"),
            withColumnStats = cluster.nonEmpty,
            priorityCols = shred.map(shredColName).toSet),
        bloom, bloomN,
        // retention policy rides every group commit forward
        retainVersions = st.map(_.retainVersions).getOrElse(KeepManifests),
        retainMs = st.map(_.retainMs).getOrElse(0L),
        colIds = memberIds, nextColId = memberNext,
        // a rewritten bucket folded its overlays in and filtered its
        // doomed keys out — clear its merge-on-read state; untouched
        // buckets keep theirs (dropping them would orphan live overlay
        // files and resurrect eq-deleted rows)
        overlays = st.map(_.overlays.filterNot { case (b, _) =>
          writtenSet(b) }).getOrElse(Map.empty),
        eqds = st.map(_.eqds.filterNot { case (b, _) => writtenSet(b) })
          .getOrElse(Map.empty),
        deleteVectors = st.map(_.deleteVectors).getOrElse(eqdSeed),
        eqDeletes = st.map(_.eqDeletes).getOrElse(eqdSeed),
        shredCols = shred))
    } finally { inc.unpersist(); () }
  }

  /** [[eqdApply]]'s write-only staging at GROUP-member scope: the batch
    * lands as one overlay epoch plus a doomed-key sidecar under the
    * member root, and the member's UNCOMMITTED manifest state is
    * returned for the group commit to publish — the group-manifest CAS
    * stays the one commit point, exactly like the CoW staging, so the
    * cross-member atomicity (vecs + pairs + bands flip together) is
    * untouched while each member's write I/O drops to ∝ its batch.
    * Returns None — the caller falls back to the CoW rewrite — when the
    * batch exceeds [[DvMaxPositionsPerCommit]], a touched stored bucket
    * has no per-file stats (plan-time resolution enumerates affected
    * files from them), the schema moved, or the member declares
    * identity columns (their assignment runs on the single-table path
    * only).
    */
  private def stageEqdInto(spark: SparkSession, fs: FileSystem,
                           tableRoot: String, man: Manifest,
                           inc: DataFrame, keys: Seq[String],
                           touched: Seq[Int],
                           incTotalHint: Option[Long] = None)
      : Option[Manifest] = {
    if (man.schema.isEmpty) return None
    val recorded = DataType.fromJson(man.schema.get).asInstanceOf[StructType]
    if (identitySpecs(recorded).nonEmpty) return None
    // column ORDER is provenance noise — reorder to the recorded
    // schema; a different column SET or type falls back (eqdApply's
    // rule)
    val incNames = inc.drop(BucketCol).columns.toSeq
    val reordered =
      if (incNames == recorded.fieldNames.toSeq) inc
      else if (incNames.sorted == recorded.fieldNames.toSeq.sorted)
        inc.select((recorded.fieldNames.toSeq :+ BucketCol)
          .filter(inc.columns.contains).map(col): _*)
      else return None
    if (!org.apache.spark.sql.GraftColumnShim.sameTypeIgnoreNullability(
          recorded, stripSchemaIds(reordered.drop(BucketCol).schema)))
      return None
    val capProbe = (DvMaxPositionsPerCommit + 1).toInt
    val incCount = incTotalHint.getOrElse(
      reordered.limit(capProbe).count())
    if (incCount > DvMaxPositionsPerCommit) return None
    val touchedStored = touched.filter(man.epochs.contains)
    if (touchedStored.exists(b => man.stats.get(b).forall(_.isEmpty)))
      return None
    val epoch = "e-" + UUID.randomUUID()
    val incChecked = enforceChecks(reordered.drop(BucketCol), man.checks,
      tableRoot)
    val stamped =
      if (man.colIds.isEmpty) stripFrame(incChecked)
      else stampFrame(incChecked, man.colIds)
    val data = stamped.withColumn(BucketCol,
      bucketExprChecked(keys, man.buckets))
    val clustered = clusterSort(data.repartition(col(BucketCol)),
      man.clusterCols)
    withShredCols(clustered, man.shredCols)
      .write.mode(SaveMode.ErrorIfExists).partitionBy(BucketCol)
      .parquet(s"$tableRoot/$epoch")
    val written = listWrittenBuckets(fs, s"$tableRoot/$epoch").toSet
    val stats0 = collectFileStats(fs, new Path(s"$tableRoot/$epoch"),
      withColumnStats = man.clusterCols.nonEmpty,
      priorityCols = man.shredCols.map(shredColName).toSet)
    val statsFp =
      if (man.fingerprint && written.nonEmpty)
        withFingerprints(stats0,
          fileFingerprints(spark, s"$tableRoot/$epoch", man.schema,
            man.colIds))
      else stats0
    val overlayStats: Map[Int, Seq[FileStat]] =
      statsFp.map { case (b, fss) => b -> fss.map(_.copy(e = epoch)) }
    if ((man.bloomCols.nonEmpty || man.shredCols.nonEmpty) &&
        written.nonEmpty)
      writeBloomSidecar(spark, fs, s"$tableRoot/$epoch", man.bloomCols,
        man.bloomItems, man.schema, man.shredCols)
    // doomed-key sidecar, skipped when no touched bucket stores
    // anything; upTo from the PRE-COMMIT state keeps this batch's own
    // overlay exempt (eqdApply's sequence-number scoping)
    val sidecar = "eqd-" + UUID.randomUUID()
    if (touchedStored.nonEmpty)
      writeEqdSidecar(spark, tableRoot, sidecar,
        reordered.select(keys.map(col): _*).distinct(), man.colIds)
    val freshBase = written.filterNot(man.epochs.contains)
    val stats2 = (man.stats.map { case (b, fss) =>
      b -> (fss ++ (if (written(b)) overlayStats.getOrElse(b, Seq.empty)
                    else Seq.empty))
    }) ++ overlayStats.filter { case (b, _) => !man.stats.contains(b) }
    val eqds2 =
      if (touchedStored.isEmpty) man.eqds
      else man.eqds ++ touchedStored.map { b =>
        b -> (man.eqds.getOrElse(b, Seq.empty) :+
          EqDel(sidecar, bucketEpochs(man, b).length, incCount))
      }
    Some(man.copy(
      epochs = man.epochs ++ freshBase.map(_ -> epoch).toMap,
      overlays = man.overlays ++
        written.intersect(man.epochs.keySet).map(b =>
          b -> (man.overlays.getOrElse(b, Seq.empty) :+ epoch)).toMap,
      stats = stats2,
      eqds = eqds2))
  }

  /** MERGE into several member tables of one group and make ALL of them
    * visible in a single atomic commit — the cross-table transaction
    * [[mergeAll]] explicitly lacks. Each `(name, rows, keys)` member gets
    * [[merge]]'s keyed-replace semantics against its state pinned in the
    * current group manifest; the staged epochs publish together via one
    * group-manifest rename, so a crash at ANY earlier point leaves every
    * reader on the previous group version (no torn multi-table state —
    * the spec proves it by aborting between the two stages). `txn` gives
    * the whole batch exactly-once semantics across redeliveries, exactly
    * [[mergeAdditive]]'s ledger, at group scope. Member names become
    * directory names — path-safe tokens only.
    */
  def mergeGroup(spark: SparkSession, groupPath: String,
                 merges: Seq[(String, DataFrame, Seq[String])],
                 buckets: Int = 64,
                 txn: Option[(String, Long)] = None,
                 clusterBy: Map[String, Seq[String]] = Map.empty,
                 autoCompactEpochs: Int = AutoCompactEpochs,
                 autoSplitBytesPerBucket: Long = AutoSplitBytesPerBucket,
                 evolveSchema: Boolean = false,
                 bloomBy: Map[String, Seq[String]] = Map.empty,
                 bloomItems: Long = DefaultBloomItems,
                 // members that take the WRITE-ONLY equality-delete
                 // path (applies at member creation, like clusterBy):
                 // their batches land as overlay + doomed-key sidecar,
                 // never a bucket rewrite — the trickle-ingest shape
                 eqDeletes: Set[String] = Set.empty,
                 // DRAIN CADENCE (engine-level, so every write-only
                 // sink doesn't re-discover the read tax by hand): a
                 // write-only eq-delete loop never trips the read-path
                 // auto-drain, so with drainEvery = N every Nth
                 // txn-keyed batch (the streaming batch id) runs
                 // [[drainGroupPressure]] after its commit — members
                 // whose stacked overlay/eqd sidecars passed the
                 // bounds compact, keeping later point-reads' anti-
                 // join depth flat while the per-trigger write I/O
                 // stays ∝ the batch. 0 (default) = never; a replayed
                 // batch drains nothing (its commit was a no-op).
                 drainEvery: Int = 0,
                 drainOverlayBound: Int = 4,
                 drainEqdBound: Int = 4)
      : Unit = {
    require(drainEvery >= 0, "mergeGroup: drainEvery >= 0")
    require(merges.nonEmpty, "mergeGroup: at least one member merge")
    require(merges.map(_._1).distinct.size == merges.size,
      "mergeGroup: member names must be distinct")
    merges.foreach { case (n, _, _) =>
      require(n.matches("[A-Za-z0-9_\\-]+"),
        s"mergeGroup: member name '$n' must be a path-safe token") }
    val fs = fsFor(spark, groupPath)
    val dir = new Path(groupPath)
    val cur = currentGroupManifest(fs, dir)
    if (txn.exists(t => cur.exists(_.txns.get(t._1).exists(_ >= t._2))))
      return // replayed batch: already applied and committed
    val curTables = cur.map(_.tables).getOrElse(Map.empty)
    // only members this batch actually STAGED participate in conflict
    // detection and rebase below (an empty member batch stages nothing).
    // Members are INDEPENDENT (distinct dirs, the group CAS is the one
    // commit point), so their staging jobs overlap on idle cores (guide
    // §2.6 — mergeAll's shape): a trigger's wall drops toward its
    // slowest member instead of the sum of all members' staging jobs.
    val staged: Map[String, Manifest] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val futs = merges.map { case (name, rows, keys) => Future {
        labeled(spark, s"graft.stage:$name") {
          stageMergeInto(spark, fs, s"$groupPath/$name", curTables.get(name),
            rows, keys, buckets, clusterBy.getOrElse(name, Seq.empty),
            evolveSchema, bloomBy.getOrElse(name, Seq.empty), bloomItems,
            eqdSeed = eqDeletes.contains(name))
            .map(name -> _)
        }
      } }
      futs.flatMap(Await.result(_, Duration.Inf)).toMap
    }
    // OPTIMISTIC group commit with rebase-and-retry (writeEpochAndCommit's
    // protocol lifted to group scope): losing the version CAS to a
    // concurrent group writer is fine as long as the winner touched only
    // OTHER members — our staged member states apply on top of its
    // commit unchanged. A touched member whose pinned state moved means
    // our stages were computed from stale survivors: fail loudly with the
    // protocol's ConcurrentModificationException, never publish them.
    var base = cur
    var attempt = 0
    while (true) {
      try {
        commitGroupManifest(fs, dir,
          GroupManifest(base.map(_.version + 1).getOrElse(1L),
            base.map(_.tables).getOrElse(Map.empty) ++ staged,
            base.map(_.txns).getOrElse(Map.empty) ++ txn,
            "mergeGroup", System.currentTimeMillis()))
        gcGroup(fs, dir)
        maybeAutoMaintainGroup(spark, fs, dir, groupPath, staged.keys.toSeq,
          autoSplitBytesPerBucket, autoCompactEpochs)
        if (drainEvery > 0 &&
            txn.exists(t => (t._2 % drainEvery) == (drainEvery - 1)))
          drainGroupPressure(spark, groupPath, drainOverlayBound,
            drainEqdBound)
        return
      } catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt > 5) throw e
          val newCur = currentGroupManifest(fs, dir).getOrElse(throw e)
          // the winner may have BEEN this very batch (redelivered twice
          // concurrently): its ledger entry makes ours a replay
          if (txn.exists(t => newCur.txns.get(t._1).exists(_ >= t._2)))
            return
          // full member SIGNATURE, not epoch pointers alone: a write-
          // only eq-delete commit appends overlays/eqds without moving
          // any pointer, and an epochs-only compare would let a raced
          // rebase clobber it
          def memberSig(m: Option[Manifest]) =
            m.map(x => (x.epochs, x.overlays, x.eqds))
          val contested = staged.keys.filter(n =>
            memberSig(newCur.tables.get(n)) !=
              memberSig(cur.flatMap(_.tables.get(n)))).toSeq.sorted
          if (contested.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"mergeGroup: concurrent writer rewrote contested members " +
                s"${contested.mkString("{", ",", "}")} of $groupPath " +
                s"(version ${newCur.version}) — re-run against the new " +
                "group state")
          base = Some(newCur)
      }
    }
  }

  /** Read one member table of a group at the latest committed GROUP
    * version — both members of an L1-style load flip together or not at
    * all. An uncommitted group or unknown member fails loudly (there is
    * no schema to synthesize an empty relation from).
    */
  def readGroupTable(spark: SparkSession, groupPath: String,
                     name: String): DataFrame = {
    val fs = fsFor(spark, groupPath)
    val man = currentGroupManifest(fs, new Path(groupPath))
      .getOrElse(throw new IllegalArgumentException(
        s"readGroupTable: no committed group manifest at $groupPath"))
    val m = man.tables.getOrElse(name,
      throw new IllegalArgumentException(
        s"readGroupTable: member '$name' not in group " +
          s"(members: ${man.tables.keys.toSeq.sorted.mkString(", ")})"))
    val paths = allDirPaths(s"$groupPath/$name", m)
    stripFrame(readWithSchema(spark, m, s"$groupPath/$name", paths))
  }

  /** Post-commit auto-maintenance for the members a group load touched
    * — [[maybeAutoSplit]] and [[maybeAutoCompact]] at member scope, the
    * same metadata-only decisions from the member's manifest stats and
    * epoch count. Advisory: a lost race never fails the load that
    * already committed (growth retries on the next load).
    */
  private def maybeAutoMaintainGroup(spark: SparkSession, fs: FileSystem,
                                     dir: Path, groupPath: String,
                                     touched: Seq[String],
                                     splitThreshold: Long,
                                     compactThreshold: Int): Unit =
    currentGroupManifest(fs, dir).foreach { g =>
      touched.foreach { name =>
        g.tables.get(name).foreach { m =>
          val maxBucketBytes =
            m.stats.values.map(_.map(_.bytes).sum).maxOption.getOrElse(0L)
          // merge-on-read pressure (write-only eq-delete members):
          // overlays and eq-delete records stack WITHOUT moving base
          // pointers, so the epoch-count trigger alone would never
          // drain them — apply maybeAutoCompactMor's bounds at member
          // scope (the member rewrite purges overlays + eqds)
          val overlayEntries = m.overlays.valuesIterator.map(_.size).sum
          val eqdEntries = m.eqds.valuesIterator.map(_.size).sum
          val eqdKeysTotal = m.eqds.valuesIterator
            .flatMap(_.iterator.map(_.n)).sum
          try {
            if (splitThreshold > 0 && m.keyCols.nonEmpty &&
                m.stats.nonEmpty && m.buckets < AutoSplitMaxBuckets &&
                maxBucketBytes > splitThreshold)
              splitGroupBuckets(spark, groupPath, name, m.keyCols)
            else if (m.epochs.values.toSet.size > compactThreshold ||
                overlayEntries >= DvAutoCompactFiles ||
                eqdEntries >= DvAutoCompactFiles ||
                eqdKeysTotal >= DvMaxPositionsPerCommit * 4)
              compactGroupTable(spark, groupPath, name)
          } catch {
            case _: java.io.IOException => ()
            case _: java.util.ConcurrentModificationException => ()
          }
        }
      }
    }

  /** Operational VACUUM at group scope ([[vacuum]] for groups): reclaim
    * member epochs no kept group manifest references, plus aged staging
    * files, without committing anything — for cold groups whose last
    * writer crashed mid-stage.
    */
  def vacuumGroup(spark: SparkSession, groupPath: String,
                  retentionMs: Long = OrphanRetentionMs): Unit =
    gcGroup(fsFor(spark, groupPath), new Path(groupPath), retentionMs)

  /** Committed member names of a group (empty when no group manifest is
    * committed yet) — the existence probe a streaming sink needs before
    * its first trigger touches the group.
    */
  def groupMembers(spark: SparkSession, groupPath: String): Seq[String] = {
    val fs = fsFor(spark, groupPath)
    currentGroupManifest(fs, new Path(groupPath))
      .map(_.tables.keys.toSeq.sorted).getOrElse(Seq.empty)
  }

  /** Resolve a group's current manifest and one member's state, failing
    * loudly on an uncommitted group or unknown member (shared by the
    * member lifecycle operations below).
    */
  private def requireMember(fs: FileSystem, groupPath: String, name: String,
                            op: String): (GroupManifest, Manifest) = {
    val cur = currentGroupManifest(fs, new Path(groupPath)).getOrElse(
      throw new IllegalArgumentException(
        s"$op: no committed group manifest at $groupPath"))
    val man = cur.tables.getOrElse(name,
      throw new IllegalArgumentException(
        s"$op: member '$name' not in group " +
          s"(members: ${cur.tables.keys.toSeq.sorted.mkString(", ")})"))
    (cur, man)
  }

  private def commitGroupOrConflict(fs: FileSystem, dir: Path,
                                    g: GroupManifest, op: String): Unit =
    try commitGroupManifest(fs, dir,
      g.copy(op = op, opTs = System.currentTimeMillis()))
    catch {
      case e: java.io.IOException =>
        throw new java.util.ConcurrentModificationException(
          s"$op: lost the version-${g.version} commit race to a " +
            s"concurrent writer of $dir — re-run against the new group " +
            "state", e)
    }

  /** [[splitBuckets]] for one member of a group: double the member's
    * bucket modulus (same no-exchange `pmod` refinement) and commit the
    * next GROUP version — the other members' pinned states ride along
    * unchanged, so the split is atomic with respect to cross-member
    * reads exactly like a member merge. Growth operations thus have
    * full parity between standalone and group-member tables.
    */
  def splitGroupBuckets(spark: SparkSession, groupPath: String, name: String,
                        keys: Seq[String]): Unit = {
    val fs = fsFor(spark, groupPath)
    val dir = new Path(groupPath)
    val (cur, man) = requireMember(fs, groupPath, name, "splitGroupBuckets")
    val upd = splitEpochsUncommitted(spark, fs, s"$groupPath/$name", man, keys)
    commitGroupOrConflict(fs, dir,
      GroupManifest(cur.version + 1, cur.tables + (name -> upd), cur.txns),
      "splitGroupBuckets")
    gcGroup(fs, dir)
  }

  /** [[compact]] for one member of a group: rewrite the member's live
    * epochs into one and commit the next group version (the other
    * members ride along unchanged).
    */
  def compactGroupTable(spark: SparkSession, groupPath: String,
                        name: String): Unit = {
    val fs = fsFor(spark, groupPath)
    val dir = new Path(groupPath)
    val (cur, man) = requireMember(fs, groupPath, name, "compactGroupTable")
    val upd = compactEpochsUncommitted(spark, fs, s"$groupPath/$name", man)
    commitGroupOrConflict(fs, dir,
      GroupManifest(cur.version + 1, cur.tables + (name -> upd), cur.txns),
      "compactGroupTable")
    gcGroup(fs, dir)
  }

  /** STREAMING-CADENCE merge-on-read drain for a group: compact
    * exactly the members whose MoR pressure (stacked overlay epochs,
    * eq-delete sidecars, doomed keys) passed the given bounds. The
    * write-only eq-delete ingest path keeps per-trigger I/O ∝ the
    * batch, but every READ of a pressured member pays an anti-join
    * over the stacked sidecars — a sink that only writes never trips
    * the read-path auto-drain, so a trickle-CDC streaming loop calls
    * this every few triggers with bounds tighter than the global
    * auto-compaction thresholds (the drains already exist; this is
    * their cadence). Cost ∝ the pressured members' live data, zero
    * when nothing passed a bound. Races with a concurrent writer are
    * advisory (the next call drains).
    */
  def drainGroupPressure(spark: SparkSession, groupPath: String,
                         overlayBound: Int = 4, eqdBound: Int = 4,
                         doomedBound: Long = 100000L): Unit = {
    val fs = fsFor(spark, groupPath)
    val dir = new Path(groupPath)
    currentGroupManifest(fs, dir).foreach { g =>
      val pressured = g.tables.filter { case (_, m) =>
        val overlayEntries = m.overlays.valuesIterator.map(_.size).sum
        val eqdEntries = m.eqds.valuesIterator.map(_.size).sum
        val doomed = m.eqds.valuesIterator
          .flatMap(_.iterator.map(_.n)).sum
        overlayEntries >= overlayBound || eqdEntries >= eqdBound ||
          doomed >= doomedBound
      }
      if (pressured.isEmpty) return
      // members are independent directories: their compaction REWRITES
      // run concurrently (mergeGroup's staging shape — wall drops toward
      // the slowest member), and the results publish in ONE group commit
      // instead of one version bump per member. Races with a concurrent
      // writer stay advisory (drop the drain; the next cadence retries).
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val futs = pressured.toSeq.map { case (name, m) => Future {
        labeled(spark, s"graft.drain:$name") {
          try Some(name ->
            compactEpochsUncommitted(spark, fs, s"$groupPath/$name", m))
          catch { case _: java.io.IOException => None }
        }
      } }
      val staged = futs.flatMap(Await.result(_, Duration.Inf))
      if (staged.isEmpty) return
      try {
        commitGroupOrConflict(fs, dir,
          GroupManifest(g.version + 1, g.tables ++ staged, g.txns),
          "drainGroupPressure")
        gcGroup(fs, dir)
      } catch {
        case _: java.util.ConcurrentModificationException => ()
      }
    }
  }

  /** [[clusterTable]] for a GROUP member: rewrite the member's live
    * data under a new cluster spec inside one group commit — the same
    * retrofit, with the group's cross-table atomicity (lifecycle
    * parity: members split, compact, evolve and now re-cluster like
    * standalone tables).
    */
  def clusterGroupTable(spark: SparkSession, groupPath: String,
                        name: String, clusterBy: Seq[String]): Unit = {
    require(clusterBy.nonEmpty,
      "clusterGroupTable: give at least one cluster column")
    val fs = fsFor(spark, groupPath)
    val dir = new Path(groupPath)
    val (cur, man0) = requireMember(fs, groupPath, name, "clusterGroupTable")
    validateClusterCols(man0, clusterBy)
    val upd = compactEpochsUncommitted(spark, fs, s"$groupPath/$name",
      man0.copy(clusterCols = clusterBy))
    commitGroupOrConflict(fs, dir,
      GroupManifest(cur.version + 1, cur.tables + (name -> upd), cur.txns),
      "clusterGroupTable")
    gcGroup(fs, dir)
  }

  /** Committed group versions still retained on disk (ascending) — the
    * group's readable time-travel range, exactly [[availableVersions]]
    * at group scope.
    */
  def availableGroupVersions(spark: SparkSession,
                             groupPath: String): Seq[Long] =
    manifestFiles(fsFor(spark, groupPath), new Path(groupPath), GroupPrefix)
      .map(_._1)

  /** Time travel for a group member: read it AS OF a retained committed
    * GROUP version — the pin is group-wide, so reading several members
    * at the same version yields the mutually-consistent state that
    * version's single commit published (the whole point of the group:
    * states and customFields from the SAME L1 transaction). Epoch
    * immutability + [[KeepManifests]] retention make the pin stable
    * across newer commits; an aged-out version fails loudly with the
    * readable range.
    */
  def readGroupTableVersion(spark: SparkSession, groupPath: String,
                            name: String, version: Long): DataFrame = {
    val fs = fsFor(spark, groupPath)
    val dir = new Path(groupPath)
    val retained = manifestFiles(fs, dir, GroupPrefix)
    val hit = retained.find(_._1 == version).getOrElse(
      throw new IllegalArgumentException(
        s"readGroupTableVersion: version $version not retained for " +
          s"$groupPath (readable: ${retained.map(_._1).mkString(", ")})"))
    val node = readJsonFile(fs, hit._2)
    val tables = scala.collection.mutable.Map.empty[String, Manifest]
    node.get("tables").fields().forEachRemaining { t =>
      tables(t.getKey) = manifestFromNode(t.getValue, version)
    }
    val m = tables.getOrElse(name,
      throw new IllegalArgumentException(
        s"readGroupTableVersion: member '$name' not in group at version " +
          s"$version (members: ${tables.keys.toSeq.sorted.mkString(", ")})"))
    val paths = allDirPaths(s"$groupPath/$name", m)
    stripFrame(readWithSchema(spark, m, s"$groupPath/$name", paths))
  }

  /** Operational introspection for groups ([[describeTable]] at group
    * scope): one row per member with the group's current version, the
    * member's bucket modulus, live epoch count, recorded schema DDL,
    * data file count and total bytes (from the manifest's per-file
    * stats — no listing), plus the group txn-ledger size.
    */
  def describeGroup(spark: SparkSession, groupPath: String): DataFrame = {
    import spark.implicits._
    val fs = fsFor(spark, groupPath)
    currentGroupManifest(fs, new Path(groupPath)) match {
      case Some(g) =>
        g.tables.toSeq.sortBy(_._1).map { case (name, m) =>
          (g.version, name, m.buckets, m.epochs.values.toSet.size,
            m.schema.map(s => DataType.fromJson(s).asInstanceOf[StructType]
              .toDDL).getOrElse(""),
            m.stats.values.map(_.size).sum,
            m.stats.values.flatMap(_.map(_.bytes)).sum,
            g.txns.size)
        }.toDF("version", "member", "buckets", "live_epochs", "schema_ddl",
          "n_files", "total_bytes", "n_txns")
      case None =>
        Seq.empty[(Long, String, Int, Int, String, Int, Long, Int)]
          .toDF("version", "member", "buckets", "live_epochs", "schema_ddl",
            "n_files", "total_bytes", "n_txns")
    }
  }

  /** [[tableHistory]] at group scope: one row per retained GROUP
    * version — the committing operation, its wall-clock time, member
    * count and total file count/bytes across members. Newest first.
    */
  def groupHistory(spark: SparkSession, groupPath: String): DataFrame = {
    import spark.implicits._
    val fs = fsFor(spark, groupPath)
    manifestFiles(fs, new Path(groupPath), GroupPrefix).reverse
      .map { case (v, p) => readGroupManifest(fs, v, p) }
      .map { g =>
        (g.version, if (g.op.isEmpty) null else g.op,
          if (g.opTs == 0L) null else new java.sql.Timestamp(g.opTs),
          g.tables.size,
          g.tables.values.map(_.stats.values.map(_.size).sum).sum,
          g.tables.values
            .map(_.stats.values.flatMap(_.map(_.bytes)).sum).sum,
          g.txns.size)
      }
      .toDF("version", "op", "commit_ts", "n_members", "n_files",
        "total_bytes", "n_txns")
  }

  /** [[readTableRange]] for a group member: file-granular data skipping
    * over the member's manifest stats (record clustering at member
    * creation via `mergeGroup(clusterBy = Map(name -> cols))`), plus
    * the exact residual filter — results equal
    * `readGroupTable(...).filter(range)` always.
    */
  def readGroupTableRange(spark: SparkSession, groupPath: String,
                          name: String, column: String,
                          lower: Option[Any] = None,
                          upper: Option[Any] = None): DataFrame = {
    val fs = fsFor(spark, groupPath)
    val (_, man) = requireMember(fs, groupPath, name, "readGroupTableRange")
    rangeReadFromManifest(spark, s"$groupPath/$name", man, column, lower,
      upper)
  }

  /** [[readTableWhere]] for a group member: the AND of ranges and
    * IN-lists against the member's state pinned in the current group
    * manifest, with the same stats + Bloom file skipping.
    */
  def readGroupTableWhere(spark: SparkSession, groupPath: String,
                          name: String,
                          ranges: Seq[ColumnPredicate]): DataFrame = {
    require(ranges.nonEmpty,
      "readGroupTableWhere requires at least one predicate")
    val fs = fsFor(spark, groupPath)
    val (_, man) = requireMember(fs, groupPath, name, "readGroupTableWhere")
    whereReadFromManifest(spark, s"$groupPath/$name", man, ranges)
  }

  /** Change feed for a group member between two retained GROUP versions
    * ([[changeFeed]] at group scope): because the pin is group-wide,
    * diffing two members over the SAME version pair yields changes from
    * the same transactions — an incremental consumer of an L1 group
    * never sees states-diff from one load beside fields-diff from
    * another.
    */
  def changeFeedGroup(spark: SparkSession, groupPath: String, name: String,
                      fromVersion: Long, toVersion: Long,
                      keys: Seq[String],
                      compareCols: Seq[String]): DataFrame = {
    def memberAt(v: Long): Manifest =
      pinGroupMember(spark, groupPath, name, Some(v), None).getOrElse(
        throw new IllegalArgumentException(
          s"changeFeedGroup: version $v not retained for $groupPath"))
    // same bucket-pruned, fingerprint-paired core as the table feed —
    // a member diff reads changed buckets, never the member table
    diffManifests(spark, s"$groupPath/$name",
      memberAt(fromVersion), memberAt(toVersion), keys, compareCols)
  }

  /** Group-wide retention policy (the group analogue of
    * [[setRetention]]): stamped onto EVERY member manifest in one
    * atomic group commit, honored by [[gcGroup]] as the max over
    * members — group versions are retained as a UNIT because members
    * commit together, so a per-member policy would be a fiction. Lets
    * a lagging member-tail CDC consumer ([[changeFeedGroup]], the
    * `member` streaming option) stall across several group commits and
    * still resume.
    */
  def setGroupRetention(spark: SparkSession, groupPath: String,
                        versions: Int = KeepManifests,
                        ms: Long = 0L): Unit = {
    val fs = fsFor(spark, groupPath)
    val dir = new Path(groupPath)
    // the group twin of [[commitMetadata]] (a GroupManifest head, group
    // commit and group gc): gc runs after the winning commit, never
    // inside the lost-CAS retry
    var attempt = 0
    while (attempt <= 5) {
      currentGroupManifest(fs, dir) match {
        case None => throw new IllegalArgumentException(
          s"setGroupRetention: no committed group manifest at $groupPath")
        case Some(cur) =>
          val v = math.max(KeepManifests, versions)
          val m = math.max(0L, ms)
          if (cur.tables.values.forall(t =>
              t.retainVersions == v && t.retainMs == m)) return
          val won =
            try {
              commitGroupManifest(fs, dir, GroupManifest(cur.version + 1,
                cur.tables.map { case (n, t) =>
                  n -> t.copy(retainVersions = v, retainMs = m) },
                cur.txns, "retention", System.currentTimeMillis()))
              true
            } catch { case _: java.io.IOException => false }
          if (won) { gcGroup(fs, dir); return }
          attempt += 1
      }
    }
    throw new java.util.ConcurrentModificationException(
      s"setGroupRetention: lost the commit race to concurrent writers " +
        s"of $groupPath on every retry — re-run against the new state")
  }

  /** Group-scope gc: keep the last `max(members' retainVersions,
    * KeepManifests)` group manifests plus any younger than the members'
    * max `retainMs` (the group analogue of [[gc]]'s policy honor); per
    * member, reclaim epochs no kept manifest references (age-guarded
    * like [[gc]]), plus aged staging files at the group root.
    */
  private def gcGroup(fs: FileSystem, dir: Path,
                      orphanRetentionMs: Long = OrphanRetentionMs): Unit = {
    val manifests = manifestFiles(fs, dir, GroupPrefix)
    if (manifests.isEmpty) return
    val cur = manifests.last match { case (v, p) => readGroupManifest(fs, v, p) }
    val keepCount = math.max(KeepManifests,
      (cur.tables.values.map(_.retainVersions) ++ Seq(KeepManifests)).max)
    val retainMs = (cur.tables.values.map(_.retainMs) ++ Seq(0L)).max
    val (dropByCount, keepByCount) = manifests.splitAt(
      math.max(0, manifests.size - keepCount))
    val ageCut = System.currentTimeMillis() - retainMs
    val (keptByAge, drop) =
      if (retainMs <= 0L) (Seq.empty, dropByCount)
      else dropByCount.partition { case (_, p) =>
        fs.getFileStatus(p).getModificationTime >= ageCut }
    val keep = keptByAge ++ keepByCount
    drop.foreach { case (_, p) => fs.delete(p, false) }
    val keptManifests = keep.map { case (v, p) =>
      val node = readJsonFile(fs, p)
      val tables = scala.collection.mutable.Map.empty[String, Manifest]
      node.get("tables").fields().forEachRemaining { t =>
        tables(t.getKey) = manifestFromNode(t.getValue, v)
      }
      tables.toMap
    }
    val now = System.currentTimeMillis()
    // member candidates come from the group root's DIRECTORY LISTING, not
    // from kept manifests: a crash during a member's first-ever staged
    // load leaves an epoch under a directory NO committed manifest names
    // — deriving members from manifests would leak those orphans forever
    // (table-level gc sweeps by listing for the same reason). A directory
    // that is not a member at all simply contains no e-* children.
    val members = fs.listStatus(dir).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
    members.foreach { name =>
      // base pointers AND merge-on-read overlay epochs are referenced
      // (an overlay-only sweep would reap live eq-delete batches)
      val referenced = keptManifests.flatMap(_.get(name))
        .flatMap(m => m.epochs.values ++ m.overlays.values.flatten).toSet
      val tdir = new Path(dir, name)
      if (fs.exists(tdir)) fs.listStatus(tdir).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith("e-") && !referenced.contains(n) &&
            now - st.getModificationTime > orphanRetentionMs)
          fs.delete(st.getPath, true)
      }
      // member eq-delete sidecars: reclaim the ones no kept group
      // version references (purged by compaction), age-guarded for
      // mid-stage writers
      val referencedEqds = keptManifests.flatMap(_.get(name))
        .flatMap(_.eqds.valuesIterator.flatMap(_.iterator.map(_.sidecar)))
        .toSet
      val eqDir = new Path(tdir, EqDirName)
      if (fs.exists(eqDir)) fs.listStatus(eqDir).foreach { st =>
        if (!referencedEqds.contains(st.getPath.getName) &&
            now - st.getModificationTime > orphanRetentionMs)
          fs.delete(st.getPath, true)
      }
    }
    fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (!st.isDirectory && n.startsWith(".tmp-manifest-") &&
          now - st.getModificationTime > orphanRetentionMs)
        fs.delete(st.getPath, false)
    }
  }

  /** Test/inspection hook: a group member's current bucket modulus. */
  private[graft] def groupMemberBuckets(spark: SparkSession,
                                        groupPath: String,
                                        name: String): Int =
    requireMember(fsFor(spark, groupPath), groupPath, name,
      "groupMemberBuckets")._2.buckets

  /** Test hook: group gc with zero retention (immediate reclamation). */
  private[graft] def gcGroupNow(spark: SparkSession, groupPath: String): Unit =
    gcGroup(fsFor(spark, groupPath), new Path(groupPath),
      orphanRetentionMs = 0L)

  /** Test hook: stage a member epoch WITHOUT the group commit — the
    * "crashed between the two writes" interleaving the atomicity spec
    * must prove invisible (no deterministic way to abort mergeGroup
    * mid-flight from outside).
    */
  private[graft] def stageGroupMemberForTest(spark: SparkSession,
                                             groupPath: String, name: String,
                                             rows: DataFrame,
                                             keys: Seq[String],
                                             buckets: Int): Unit = {
    val fs = fsFor(spark, groupPath)
    val cur = currentGroupManifest(fs, new Path(groupPath))
    stageMergeInto(spark, fs, s"$groupPath/$name",
      cur.flatMap(_.tables.get(name)), rows, keys, buckets)
    ()
  }

  /** The reference's one-txn L1 shape end-to-end
    * (`state_load_processor_aurora.ts:39-113`): upsert work-item states
    * AND replace their custom-field rows — deduped inline on
    * (workItemId, name, value), exactly [[loadCustomFields]] — in ONE
    * atomic cross-table commit.
    */
  def loadStatesWithCustomFields(spark: SparkSession, groupPath: String,
                                 states: DataFrame, stateKeys: Seq[String],
                                 customFields: DataFrame,
                                 txn: Option[(String, Long)] = None): Unit =
    mergeGroup(spark, groupPath, Seq(
      ("states", states, stateKeys),
      ("customFields",
        customFields.dropDuplicates("workItemId", "name", "value"),
        Seq("workItemId"))), txn = txn)

  /** Version-guarded MERGE for out-of-order at-least-once delivery: like
    * [[merge]], but a matched row is replaced ONLY when the incoming
    * version is strictly newer — a stale batch replayed AFTER a newer
    * merge (reordered SQS redelivery, a retried extract round) leaves the
    * stored row untouched instead of regressing it. Ties keep the stored
    * row, so replaying the exact batch that produced a row is a no-op.
    * Same single-writer contract, bucket pruning, and atomic manifest
    * commit as [[merge]].
    */
  def mergeVersioned(spark: SparkSession, tablePath: String,
                     incoming: DataFrame, keys: Seq[String], versionCol: String,
                     buckets: Int = 64,
                     autoCompactEpochs: Int = AutoCompactEpochs,
                     autoSplitBytesPerBucket: Long = AutoSplitBytesPerBucket): Unit = {
    require(keys.nonEmpty, "merge requires at least one key column")
    require(incoming.columns.contains(versionCol),
      s"mergeVersioned: incoming frame lacks version column '$versionCol'")
    // the merge machinery owns these names; silently withColumn-replacing
    // a caller's column of the same name would corrupt its data (the
    // saltedJoin collision class) — fail loudly instead
    Seq("__pri", "__vrn", BucketCol).foreach(c =>
      require(!incoming.columns.contains(c),
        s"mergeVersioned: incoming frame must not contain reserved column '$c'"))
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    if (currentManifest(fs, dir).isEmpty && legacyData(fs, dir)) {
      // one-time migration read: mergeSchema merges heterogeneous legacy
      // footers (files written across an additive evolution) — runs once
      // per table, so the O(files) footer-job cost argument does not apply
      val legacy = spark.read.option("mergeSchema", "true")
        .parquet(tablePath).drop(BucketCol)
      writeEpochAndCommit(spark, fs, tablePath, legacy, keys, buckets, None)
    }
    val m = currentManifest(fs, dir)
    m.foreach(validateKeys(_, keys, "mergeVersioned"))
    val nb = m.map(_.buckets).getOrElse(buckets)
    val inc = incoming
      .withColumn(BucketCol, pmod(hash(keys.map(col): _*), lit(nb)))
      .persist()
    try {
      val touched = touchedBuckets(inc)
      if (touched.isEmpty) return
      m match {
        case None =>
          // a fresh table has no stored versions to guard; intra-batch
          // duplicates still resolve newest-first
          writeEpochAndCommit(spark, fs, tablePath,
            newestPerKey(inc.drop(BucketCol), keys, versionCol, pri = None),
            keys, nb, None, opName = "mergeVersioned")
        case Some(man) =>
          val existingPaths = touched.flatMap(b =>
            (if (man.epochs.contains(b)) bucketDirPaths(tablePath, man, b)
             else Seq.empty))
          val existing =
            if (existingPaths.isEmpty) None
            else Some(readWithSchema(spark, man, tablePath, existingPaths))
          // one frame, newest version per key wins; on version ties the
          // stored row (__pri 0) outranks the incoming one
          val all = existing match {
            case None => inc.drop(BucketCol).withColumn("__pri", lit(1))
            case Some(ex) =>
              val incCols = ex.columns.map(col).toIndexedSeq
              ex.withColumn("__pri", lit(0))
                .unionByName(inc.select(incCols: _*).withColumn("__pri", lit(1)))
          }
          writeEpochAndCommit(spark, fs, tablePath,
            newestPerKey(all.drop(BucketCol), keys, versionCol, pri = Some("__pri")),
            keys, nb, Some(man), opName = "mergeVersioned")
      }
      gc(fs, dir)
      maybeAutoSplit(spark, fs, dir, tablePath, autoSplitBytesPerBucket)
      maybeAutoCompact(spark, fs, dir, tablePath, autoCompactEpochs)
      maybeAutoCompactMor(spark, fs, dir, tablePath)
    } finally { inc.unpersist(); () }
  }

  /** Newest row per key: window on the bucketed key set ordered by version
    * desc (then writer priority: stored before incoming on ties). The
    * window partitions on the full key — high cardinality, no skew risk
    * beyond what the keys already carry.
    */
  private def newestPerKey(rows: DataFrame, keys: Seq[String],
                           versionCol: String, pri: Option[String]): DataFrame = {
    // final tie-break on a stable content hash: two DISTINCT same-version
    // incoming rows for one key must resolve to the same survivor on
    // every run and every task retry, not whichever row the shuffle
    // presents first
    val contentCols = rows.columns.filterNot(pri.contains).sorted.map(col)
    val order = (col(versionCol).desc +: pri.map(col(_).asc).toSeq) :+
      xxhash64(contentCols.toIndexedSeq: _*).asc
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(order: _*)
    rows.withColumn("__vrn", row_number().over(w))
      .filter(col("__vrn") === 1)
      .drop("__vrn").drop(pri.toSeq: _*)
  }

  /** Write `rows` (bucket column recomputed from the keys) into a fresh
    * epoch directory, then commit the next manifest version pointing the
    * written buckets at it. Nothing is visible until the commit rename.
    *
    * OPTIMISTIC CONCURRENCY (Delta's commit protocol, scaled down): a
    * lost version race does not fail the write outright. The committer
    * re-reads the current manifest and REBASES — its new pointers apply
    * on top of the winner's — provided none of ITS buckets (written or
    * dropped) changed pointer since `prev` was read and the schema is
    * unchanged: disjoint-bucket writers then all succeed, serialized by
    * the version CAS. A bucket this write READ-MODIFIED that the winner
    * also rewrote means the survivors were computed from stale data —
    * that is a genuine data conflict and fails loudly with
    * `ConcurrentModificationException` (the caller re-runs its merge
    * against the new state). The age guard in [[gc]] keeps the loser's
    * staged epoch alive through this window.
    */
  /** Per-file CONTENT fingerprints of a just-written epoch: an
    * order-insensitive 128-bit identity of each file's row multiset —
    * `bit_xor` of two independently-derived 64-bit row hashes, prefixed
    * with a schema signature so files of different column sets can
    * never match. Two files share a fingerprint iff they hold the same
    * rows (up to the 2^-128-class xor-collision bound, the same
    * guarantee class as content-addressed storage; xor's duplicate-row
    * blind spot is closed by the key constraint — a keyed file's rows
    * are pairwise distinct). One distributed pass over the TOUCHED
    * epoch (never the corpus), opt-in via `fingerprint=true` at table
    * creation, recorded per file as `FileStat.fp` — what lets
    * [[changeFeed]] skip file PAIRS inside a changed bucket (Delta CDF
    * records change files at write time; this derives them at diff
    * time from identity instead).
    */
  private def fileFingerprints(spark: SparkSession, epochRoot: String,
                               schema: Option[String],
                               ids: Map[String, Long] = Map.empty)
      : Map[(Int, String), String] = {
    val df = schema.map { s =>
      val sch = DataType.fromJson(s).asInstanceOf[StructType]
        .add(BucketCol, IntegerType)
      spark.read.schema(sch).parquet(epochRoot)
    }.getOrElse(spark.read.option("mergeSchema", "true").parquet(epochRoot))
    // fingerprint identity is SCHEMA-SIGNED; on an id-stamped table the
    // signature (and the fold order) uses the stable field ids, so a
    // RENAME does not orphan every recorded fingerprint — pairings keep
    // dropping unchanged files across the rename boundary
    val dataCols0 = df.columns.filterNot(_ == BucketCol)
    val dataCols =
      if (ids.isEmpty) dataCols0.sorted
      else dataCols0.sortBy(c => ids.get(c).map(_.toString).getOrElse(c))
    def sigName(c: String): String =
      ids.get(c).map(id => s"#$id").getOrElse(c)
    val sig = java.util.UUID.nameUUIDFromBytes(
      dataCols.map(c => sigName(c) + ":" + df.schema(c).dataType.catalogString)
        .mkString("|").getBytes(StandardCharsets.UTF_8)).toString.take(8)
    val cols = dataCols.map(col).toIndexedSeq
    labeled(spark, "graft.fingerprint") {
      df.withColumn("__fpf", input_file_name())
        .withColumn("__h1", xxhash64(cols: _*))
        .withColumn("__h2", xxhash64((lit("graft-fp2") +: cols): _*))
        .groupBy(col(BucketCol), col("__fpf"))
        .agg(expr("bit_xor(__h1)").as("x1"), expr("bit_xor(__h2)").as("x2"),
          count(lit(1)).as("n"))
        .collect()
    }
      .map { r =>
        val name = r.getAs[String]("__fpf").split('/').last
        (r.getAs[Number](BucketCol).intValue(), name) ->
          f"$sig-${r.getAs[Long]("x1")}%016x-${r.getAs[Long]("x2")}%016x-${r.getAs[Long]("n")}"
      }.toMap
  }

  /** Attach [[fileFingerprints]] to freshly-collected stats. */
  private def withFingerprints(stats: Map[Int, Seq[FileStat]],
                               fps: Map[(Int, String), String])
      : Map[Int, Seq[FileStat]] =
    stats.map { case (b, fss) =>
      b -> fss.map(f => f.copy(fp = fps.getOrElse((b, f.name), "")))
    }

  private def writeEpochAndCommit(spark: SparkSession, fs: FileSystem,
                                  tablePath: String, rows: DataFrame,
                                  keys: Seq[String], buckets: Int,
                                  prev: Option[Manifest],
                                  txn: Option[(String, Long)] = None,
                                  dropBuckets: Set[Int] = Set.empty,
                                  clusterCols: Seq[String] = Seq.empty,
                                  bloomCols: Seq[String] = Seq.empty,
                                  bloomN: Long = DefaultBloomItems,
                                  opName: String = "merge",
                                  fpSeed: Boolean = false,
                                  dvSeed: Boolean = false,
                                  eqdSeed: Boolean = false,
                                  ref: Option[String] = None,
                                  shredSeed: Seq[ShredSpec] = Seq.empty)
      : Unit = {
    val epoch = "e-" + UUID.randomUUID()
    // CHECK-constraint guard fused into the epoch write's pass: every
    // row this commit stores (incoming AND rewritten survivors — the
    // latter passed when first written, so re-proving them is free on
    // the happy path) streams through the recorded predicates
    val effChecks = prev.map(_.checks).getOrElse(Map.empty)
    val rowsChecked = enforceChecks(rows, effChecks, tablePath)
    // schema-resident column METADATA (DEFAULT-value keys) carries
    // forward from the recorded schema by name: the written frame's
    // schema comes from the statement's source, which never knows the
    // table's declared defaults — without this, one merge would erase
    // them
    val declaredMeta: Map[String, org.apache.spark.sql.types.Metadata] =
      prev.flatMap(_.schema).map(s =>
        DataType.fromJson(s).asInstanceOf[StructType].fields
          .filter(_.metadata != org.apache.spark.sql.types.Metadata.empty)
          .map(f => f.name -> f.metadata).toMap).getOrElse(Map.empty)
    // a commit must never NARROW declared nullability: the written
    // frame's non-nullness is provenance noise (an identity assignment
    // or a Seq-derived source), while the DECLARED nullable admits the
    // NULL sentinels and old epochs' stored NULLs
    val declaredNullable: Set[String] =
      prev.flatMap(_.schema).map(s =>
        DataType.fromJson(s).asInstanceOf[StructType].fields
          .filter(_.nullable).map(_.name).toSet).getOrElse(Set.empty)
    // FIELD-ID stamping (see [[Manifest.colIds]]): an id-stamped table
    // carries each column's id forward by name and assigns FRESH ids to
    // evolved columns; a table this commit creates — or fully replaces
    // (no pre-existing epoch pointer survives: truncating overwrite /
    // relayout, which is also the LEGACY MIGRATION path) — is stamped
    // from scratch; a legacy table with surviving old files stays
    // name-world (those files carry no ids to match).
    val cleanSchema0 = stripSchemaIds(rows.schema)
    // the COMMITTED schema keeps the DECLARED column order (evolved
    // columns append): the written frame's order is provenance noise —
    // a by-name INSERT or a reordered API source must not flip the
    // table's SQL column order (files read by name/field-id, so
    // physical order never matters)
    val declaredOrder: Map[String, Int] =
      prev.flatMap(_.schema).map(s =>
        DataType.fromJson(s).asInstanceOf[StructType].fieldNames
          .zipWithIndex.toMap).getOrElse(Map.empty)
    val orderedFields =
      if (declaredOrder.isEmpty) cleanSchema0.fields
      else cleanSchema0.fields.sortBy(f =>
        declaredOrder.getOrElse(f.name, Int.MaxValue))
    val cleanSchema =
      if (declaredMeta.isEmpty && declaredNullable.isEmpty &&
          declaredOrder.isEmpty) cleanSchema0
      else StructType(orderedFields.map { f0 =>
        val f = if (declaredNullable.contains(f0.name)) f0.copy(nullable = true)
                else f0
        declaredMeta.get(f.name).fold(f)(m => f.copy(metadata = m))
      })
    val replacesAll = prev.forall(p => (p.epochs.keySet -- dropBuckets).isEmpty)
    val (colIds, nextColId) =
      prev.filter(_.nextColId > 0L) match {
        case Some(p) =>
          var n = p.nextColId
          val ids = cleanSchema.fields.map { f =>
            f.name -> p.colIds.getOrElse(f.name, { val v = n; n += 1; v })
          }.toMap
          (ids, n)
        case None if prev.isEmpty || replacesAll =>
          (cleanSchema.fields.zipWithIndex
            .map { case (f, i) => f.name -> (i + 1L) }.toMap,
            cleanSchema.fields.length + 1L)
        case None => (Map.empty[String, Long], 0L)
      }
    val stamped =
      if (colIds.isEmpty) stripFrame(rowsChecked)
      else stampFrame(rowsChecked, colIds)
    val data = stamped
      .withColumn(BucketCol, bucketExprChecked(keys, buckets))
    // cluster by bucket before the partitioned write: each bucket's rows
    // land wholly in one task → one file per bucket (small-file hygiene).
    // With clusterCols a LOCAL sort (no extra exchange) orders the
    // bucket's rows so maxRecordsPerFile splits land range-disjoint
    // files — what makes the per-file stats below actually skip.
    // an existing table's recorded clustering always applies; the param
    // only seeds table creation (mirrors `buckets`)
    val effCluster = prev.map(_.clusterCols).filter(_.nonEmpty)
      .getOrElse(clusterCols)
    // shred declarations are creation-time (the catalog path / a CTAS
    // seed) and ride every commit forward like clusterCols
    val effShred = prev.map(_.shredCols).getOrElse(shredSeed)
    val clustered = clusterSort(data.repartition(col(BucketCol)), effCluster)
    labeled(spark, "graft.epoch-write") {
      withShredCols(clustered, effShred)
        .write.mode(SaveMode.ErrorIfExists).partitionBy(BucketCol)
        .parquet(s"$tablePath/$epoch")
    }
    val written = fs.listStatus(new Path(s"$tablePath/$epoch")).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(BucketCol + "="))
      .map(_.stripPrefix(BucketCol + "=").toInt)
    val fileStats0 = collectFileStats(fs, new Path(s"$tablePath/$epoch"),
      withColumnStats = effCluster.nonEmpty,
      priorityCols = effShred.map(shredColName).toSet)
    // content fingerprints (recorded at creation, like clusterCols):
    // one pass over the TOUCHED epoch, O(written data)
    val effFp = prev.map(_.fingerprint).getOrElse(fpSeed)
    val fileStats =
      if (effFp && written.nonEmpty)
        withFingerprints(fileStats0,
          fileFingerprints(spark, s"$tablePath/$epoch",
            Some(cleanSchema.json), colIds))
      else fileStats0
    // an existing table's recorded bloom columns always apply (the param
    // only seeds creation, like clusterCols) — so deletes, txn merges and
    // evolutions all keep the sidecar maintained without opting in
    val effBloom = prev.map(_.bloomCols).filter(_.nonEmpty)
      .getOrElse(bloomCols)
    val effBloomN = prev.filter(_.bloomCols.nonEmpty).map(_.bloomItems)
      .getOrElse(bloomN)
    if ((effBloom.nonEmpty || effShred.nonEmpty) && written.nonEmpty)
      writeBloomSidecar(spark, fs, s"$tablePath/$epoch", effBloom,
        effBloomN, Some(cleanSchema.json), effShred)
    // incremental stats: ONE narrow scan of the freshly-written epoch
    // files (never the corpus, never a recompute of the input plan)
    // yields this commit's per-column HLL batch; the union happens
    // driver-side against whatever sketch the (possibly rebased) base
    // manifest carries
    val batchSk =
      if (prev.exists(_.colSketches.nonEmpty) && written.nonEmpty)
        batchColStats(spark.read.parquet(s"$tablePath/$epoch"),
          prev.get.colSketches.keySet)
      else None
    // identity high-water: one narrow agg over the written files moves
    // it past both assigned and explicit values
    val epochIdSpec = identitySpecs(cleanSchema)
    val idExt =
      if (epochIdSpec.nonEmpty && written.nonEmpty)
        identityExtremes(spark, s"$tablePath/$epoch", epochIdSpec)
      else Map.empty[String, Long]
    val mine = written.toSet ++ dropBuckets
    var base = prev
    var attempt = 0
    while (true) {
      // dropBuckets clears stale pointers for touched buckets the write
      // left EMPTY (a delete can empty a bucket; the partitioned write
      // emits no directory for it, so without the drop the old epoch —
      // still holding the deleted rows — would stay visible)
      val epochs = (base.map(_.epochs).getOrElse(Map.empty) -- dropBuckets) ++
        written.map(_ -> epoch)
      // a full bucket rewrite supersedes its merge-on-read overlays (the
      // survivor read above already folded their rows in) — and its
      // equality-delete records (the survivor read filtered doomed keys)
      val overlays = (base.map(_.overlays).getOrElse(Map.empty)
        -- dropBuckets) -- written
      val eqds = (base.map(_.eqds).getOrElse(Map.empty)
        -- dropBuckets) -- written
      // txn ledger survives every commit; the new txn (if any) rides the
      // SAME atomic rename as the data it applied
      val txns = base.map(_.txns).getOrElse(Map.empty) ++ txn
      // untouched buckets keep their old files' stats (their pointers
      // didn't move); rewritten buckets take the fresh footer stats
      val stats = (base.map(_.stats).getOrElse(Map.empty) -- dropBuckets) ++
        fileStats
      // clustering is recorded at creation; a CREATION race adopts the
      // winner's recorded clustering (advisory layout, not a conflict)
      val cluster = base.map(_.clusterCols).filter(_.nonEmpty)
        .getOrElse(effCluster)
      val bloom = base.map(_.bloomCols).filter(_.nonEmpty).getOrElse(effBloom)
      val bloomSz = base.filter(_.bloomCols.nonEmpty).map(_.bloomItems)
        .getOrElse(effBloomN)
      // the committed schema is the written frame's (sans the physical
      // bucket column) — on an evolving merge this is already the union
      // schema, so the recorded schema and the data it describes commit
      // in the same atomic rename
      // every row THIS commit wrote passed bucketExprChecked's
      // AssertNotNull, so the NULL-key certificate holds iff the base
      // already carried it or no pre-existing epoch pointer survives
      // (creation / truncating overwrite / delete-all rewrite)
      val checked = base.forall(_.keysChecked) ||
        (base.map(_.epochs.keySet).getOrElse(Set.empty) -- dropBuckets --
          written).isEmpty
      try {
        refCommit(fs, new Path(tablePath), ref,
          withRefreshedStats(
          Manifest(base.map(_.version + 1).getOrElse(1L), buckets, epochs,
            txns, Some(cleanSchema.json), keys, cluster, stats, bloom,
            bloomSz, opName, System.currentTimeMillis(),
            // retention + fingerprint policy ride every commit forward
            base.map(_.retainVersions).getOrElse(KeepManifests),
            base.map(_.retainMs).getOrElse(0L),
            base.map(_.fingerprint).getOrElse(effFp),
            keysChecked = checked,
            // a rebase over a non-conflicting commit keeps the id space
            // monotone (a schema-moving concurrent commit conflicts
            // above, so ids can never collide)
            colIds = colIds,
            nextColId = math.max(nextColId,
              base.map(_.nextColId).getOrElse(0L)),
            // the deletion-vector policy rides every commit forward,
            // like fingerprint; the param only seeds creation
            deleteVectors = base.map(_.deleteVectors).getOrElse(dvSeed),
            // ANALYZE statistics carry forward as estimates (Delta's
            // behavior); statsVersion keeps naming the analyzed version
            colStats = base.map(_.colStats).getOrElse(Map.empty),
            statsVersion = base.map(_.statsVersion).getOrElse(0L),
            statsRows = base.map(_.statsRows).getOrElse(0L),
            // tags ride every commit forward; they name VERSIONS, so a
            // new commit changes nothing about what they pin
            tags = base.map(_.tags).getOrElse(Map.empty),
            overlays = overlays,
            // the fork version rides every branch commit (publish-time
            // conflict check); -1 on main commits
            branchBase = base.map(_.branchBase).getOrElse(-1L),
            // constraints ride every commit forward; the rebase rule
            // below conflicts when the set moved underneath this write
            checks = effChecks,
            colSketches = base.map(_.colSketches).getOrElse(Map.empty),
            idhw = advanceIdhw(base.map(_.idhw).getOrElse(Map.empty),
              epochIdSpec, idExt),
            colHists = base.map(_.colHists).getOrElse(Map.empty),
            eqds = eqds,
            // the equality-delete policy rides every commit forward,
            // like deleteVectors; the param only seeds creation
            eqDeletes = base.map(_.eqDeletes).getOrElse(eqdSeed),
            // shred declarations ride every commit forward (the epoch
            // above was written WITH their hidden columns)
            shredCols = effShred),
          batchSk))
        return
      } catch {
        case e: java.io.IOException =>
          attempt += 1
          if (attempt > 5) throw e
          val cur = refCurrent(fs, new Path(tablePath), ref).getOrElse(
            throw e) // commit failed yet no manifest: surface the original
          // data conflict iff any bucket THIS write read-modified changed
          // pointer OR deletion-vector state since it was read, or the
          // schema moved underneath us (on a CREATION race, "moved" means
          // the winner created a table of a different schema than the one
          // being written)
          val conflicting = mine.exists(b =>
            bucketSig(cur, b) != bucketSigOpt(prev, b))
          // nullability-insensitive: the same logical schema serializes
          // with different nullability by provenance (Seq-derived vs
          // parquet-read frames)
          def same(x: Option[String], y: Option[String]): Boolean =
            (x, y) match {
              case (Some(a), Some(b)) => a == b ||
                org.apache.spark.sql.GraftColumnShim.sameTypeIgnoreNullability(
                  DataType.fromJson(a), DataType.fromJson(b))
              case (a, b) => a == b
            }
          val schemaConflict = prev match {
            case Some(p) => !same(cur.schema, p.schema)
            case None => !same(cur.schema, Some(cleanSchema.json))
          }
          // a creation race where the winner chose a different modulus is
          // unrebasable: this write's rows were hashed with `buckets`, so
          // its bucket ids are meaningless under the winner's layout even
          // when they happen not to collide — committing them would make
          // every later pruned read miss rows silently
          val bucketConflict = cur.buckets != buckets
          // a creation race where the winner recorded different merge
          // keys is equally unrebasable: this write's bucket ids were
          // hashed from ITS key list (see [[Manifest.keyCols]])
          val keyConflict = cur.keyCols.nonEmpty && cur.keyCols != keys
          // a concurrent ADD/DROP CONSTRAINT invalidates this write's
          // enforcement pass (the batch was proven under the OLD set)
          val checkConflict = cur.checks != effChecks
          // a concurrent commit that moved the identity high-water may
          // have assigned values overlapping this batch's reservation
          val idConflict = epochIdSpec.nonEmpty &&
            cur.idhw != prev.map(_.idhw).getOrElse(Map.empty)
          if (conflicting || schemaConflict || bucketConflict ||
              keyConflict || checkConflict || idConflict) {
            val diff = mine.filter(b =>
              bucketSig(cur, b) != bucketSigOpt(prev, b))
            throw new java.util.ConcurrentModificationException(
              s"merge: concurrent writer rewrote contested buckets " +
                s"${diff.toSeq.sorted.mkString("{", ",", "}")} of " +
                s"$tablePath (version ${cur.version}" +
                s"${if (schemaConflict) ", schema changed" else ""}" +
                s"${if (bucketConflict) s", bucket count ${cur.buckets} != $buckets"
                   else ""}" +
                s"${if (keyConflict) s", merge keys ${cur.keyCols.mkString("(", ",", ")")} != ${keys.mkString("(", ",", ")")}"
                   else ""}" +
                s"${if (checkConflict) ", CHECK constraints changed" else ""}" +
                s"${if (idConflict) ", identity high-water moved" else ""}) — " +
                "re-run against the new table state")
          }
          base = Some(cur)
      }
    }
  }

  /** Keyed DELETE — `MERGE INTO target USING keys ON keys WHEN MATCHED
    * DELETE` (the reference's deleted-item reconciliation writes back
    * exactly this: items the source no longer returns are purged from
    * the state store, ref `delete_work_items.ts` semantics). Rows whose
    * key appears in `keysToDelete` are removed; everything else
    * survives. Same manifest-pruned I/O as [[merge]] — only buckets
    * containing a deleted key are read and rewritten — and the same
    * atomic commit; a bucket emptied entirely by the delete has its
    * epoch pointer dropped from the new manifest. Deleting keys that
    * are absent (or from an empty/missing table) is a no-op. Single
    * writer per table, as ever.
    */
  /** SCAN-TO-COMMIT conflict guard for row-level statements (SQL
    * MERGE/UPDATE/DELETE): the statement's changeset was derived from a
    * scan PINNED at `expectedVersion`, but the changeset is applied
    * against the manifest read at commit time — a commit landing during
    * the statement's (long) read/join phase would otherwise be silently
    * clobbered per overlapping key (lost update / write skew). Mirrors
    * `writeEpochAndCommit`'s rebase rule: the apply may proceed iff no
    * TOUCHED bucket's epoch pointer moved since the scanned version and
    * neither the schema nor the bucket modulus changed — anything else
    * raises the protocol's `ConcurrentModificationException` ("re-run
    * against the new table state"). A scanned version that already aged
    * out of retention cannot be re-validated and conservatively
    * conflicts. Together with the commit CAS (which re-validates from
    * the version read HERE forward) this covers the whole scan→commit
    * window.
    */
  private def requireScanCurrent(fs: FileSystem, tablePath: String,
                                 man: Manifest,
                                 expectedVersion: Option[Long],
                                 touched: Seq[Int], op: String,
                                 ref: Option[String] = None): Unit =
    expectedVersion.filter(_ != man.version).foreach { ev =>
      val scanned = refManifestFiles(fs, new Path(tablePath), ref)
        .find(_._1 == ev)
        .map { case (v, p) => readManifest(fs, v, p) }
        .getOrElse(throw new java.util.ConcurrentModificationException(
          s"$op: $tablePath moved from the statement's scanned version " +
            s"$ev to ${man.version} and version $ev is no longer " +
            "retained — the statement's reads cannot be re-validated; " +
            "re-run against the new table state"))
      val modulusMoved = scanned.buckets != man.buckets
      val schemaMoved = scanned.schema != man.schema
      val moved =
        if (modulusMoved) touched
        else touched.filter(b => bucketSig(scanned, b) != bucketSig(man, b))
      if (modulusMoved || schemaMoved || moved.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"$op: a concurrent writer committed to $tablePath between the " +
            s"statement's scan (version $ev) and its write (version " +
            s"${man.version})" +
            (if (modulusMoved)
               s" — bucket modulus ${scanned.buckets} -> ${man.buckets}"
             else if (schemaMoved) " — schema changed"
             else s" — contested buckets ${moved.sorted.mkString("{", ",", "}")}") +
            " — re-run against the new table state")
    }

  def delete(spark: SparkSession, tablePath: String, keysToDelete: DataFrame,
             keys: Seq[String],
             autoCompactEpochs: Int = AutoCompactEpochs,
             expectedVersion: Option[Long] = None,
             ref: Option[String] = None): Unit = {
    require(keys.nonEmpty, "delete requires at least one key column")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    ref.foreach { b =>
      requireBranchName("delete", b)
      require(branchHead(fs, dir, b).isDefined,
        s"delete: no branch '$b' on $tablePath — createBranch first")
    }
    if (ref.isEmpty && currentManifest(fs, dir).isEmpty &&
        legacyData(fs, dir)) {
      // one-time migration read: mergeSchema merges heterogeneous legacy
      // footers (files written across an additive evolution) — runs once
      // per table, so the O(files) footer-job cost argument does not apply
      val legacy = spark.read.option("mergeSchema", "true")
        .parquet(tablePath).drop(BucketCol)
      writeEpochAndCommit(spark, fs, tablePath, legacy, keys,
        buckets = 64, prev = None)
    }
    refCurrent(fs, dir, ref).foreach { man =>
      validateKeys(man, keys, "delete")
      val del = keysToDelete.select(keys.map(col): _*).distinct()
        .withColumn(BucketCol, pmod(hash(keys.map(col): _*), lit(man.buckets)))
        .persist()
      try {
        val touchedCounts = touchedBucketCounts(del)
        val touched = touchedCounts.keys.toIndexedSeq.sorted
        requireScanCurrent(fs, tablePath, man, expectedVersion, touched,
          "delete", ref)
        val existingPaths = touched.flatMap(b =>
          (if (man.epochs.contains(b)) bucketDirPaths(tablePath, man, b)
             else Seq.empty))
        // no stored bucket holds any of these keys — nothing to rewrite,
        // and committing a no-change version would just churn gc
        if (existingPaths.isEmpty) return
        val delTotal = touchedCounts.values.sum
        // DELETION-VECTOR fast path (opt-in policy): commit per-file
        // dead positions instead of rewriting the touched buckets —
        // write I/O ∝ deleted rows. Falls back to the rewrite when the
        // delete is too large to stay metadata-sized (or stats are
        // missing) — correct either way.
        if (!(man.deleteVectors &&
              (if (man.eqDeletes)
                // write-only blind delete: the doomed keys commit as an
                // equality-delete sidecar, no position-resolving read
                eqdApply(spark, fs, tablePath, man, None, Some(del), keys,
                  touched, None, "delete", ref,
                  delTotalHint = Some(touchedCounts.values.sum))
              else dvDelete(spark, fs, tablePath, man, del, keys, touched,
                ref, delTotalHint = Some(touchedCounts.values.sum))))) {
          val survivors = readWithSchema(spark, man, tablePath, existingPaths)
            .join(antiKeySide(del.drop(BucketCol), keys, delTotal), keys,
              "left_anti")
          val touchedStored = touched.filter(man.epochs.contains).toSet
          writeEpochAndCommit(spark, fs, tablePath, survivors, keys,
            man.buckets, Some(man), dropBuckets = touchedStored,
            opName = "delete", ref = ref)
        }
        if (ref.isEmpty) {
          gc(fs, dir)
          maybeAutoCompact(spark, fs, dir, tablePath, autoCompactEpochs)
          maybeAutoCompactMor(spark, fs, dir, tablePath)
        }
      } finally { del.unpersist(); () }
    }
  }

  /** Apply a MIXED changeset — upserts and deletes — in ONE manifest
    * commit. This is the storage half of SQL row-level operations
    * (MERGE INTO / UPDATE / DELETE planned through Spark's delta-based
    * DSv2 rewrite, [[GraftSqlTable]]): Spark hands the connector only
    * the CHANGED rows, and the whole changeset must become visible
    * atomically — a MERGE whose updates landed but whose deletes
    * didn't is not a state any reader may observe. Cost mirrors
    * [[merge]]+[[delete]]: only buckets holding a changed key are
    * rewritten, everything else is untouched metadata, so a 100 TB
    * table pays ∝ |changeset| + |touched buckets|, never ∝ |table|.
    * `upserts` replace their keys; `deleteKeys` remove theirs; a key in
    * both resolves to the upsert (the delete names the row's PRIOR
    * identity — how an UPDATE that rewrites a key column travels: the
    * old key dies, the new row lands, same commit).
    */
  def applyChanges(spark: SparkSession, tablePath: String,
                   upserts: DataFrame, deleteKeys: DataFrame,
                   keys: Seq[String], opName: String = "rowlevel",
                   autoCompactEpochs: Int = AutoCompactEpochs,
                   expectedVersion: Option[Long] = None,
                   ref: Option[String] = None,
                   // exactly-once anchor (the mergeAdditive contract):
                   // a changeset at or below the app's recorded version
                   // is skipped whole; the ledger entry rides the same
                   // atomic commit as the changes it describes
                   txn: Option[(String, Long)] = None): Unit = {
    require(keys.nonEmpty, "applyChanges requires at least one key column")
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val man = refCurrent(fs, dir, ref).getOrElse(
      throw new IllegalStateException(
        s"applyChanges: $tablePath is not a manifest table"))
    validateKeys(man, keys, opName)
    if (txn.exists(t => man.txns.get(t._1).exists(_ >= t._2)))
      return // replay: the whole changeset already applied
    val nb = man.buckets
    // IDENTITY assignment precedes bucketing (a MERGE's NOT-MATCHED
    // INSERT action may supply NULL for an identity column); GENERATED
    // columns are RECOMPUTED, not validated — an UPDATE that moved a
    // source column carries the OLD generated value along, which is
    // derivation input gone stale, never a user assertion (Delta's
    // row-level semantics; the INSERT path keeps validating)
    val up = applyDeclaredColumns(upserts, Some(man), tablePath,
      recomputeGenerated = true)
      .withColumn(BucketCol, pmod(hash(keys.map(col): _*), lit(nb)))
      .persist()
    val del = deleteKeys.select(keys.map(col): _*).distinct()
      .withColumn(BucketCol, pmod(hash(keys.map(col): _*), lit(nb)))
      .persist()
    try {
      // the unique-key guard FUSED into the touched-buckets job (the
      // merge() shape): the per-bucket agg also proves per-key
      // multiplicity <= 1 over the persisted upserts — keys hash into
      // one bucket, so duplicates are bucket-local — and only a
      // detected duplicate pays the detailed requireUniqueKeys error
      // pass. Saves one full pass over the changeset per statement.
      val perUp = up.groupBy((col(BucketCol) +: keys.map(col)): _*)
        .agg(count(lit(1)).as("__graft_kn"))
        .groupBy(col(BucketCol))
        .agg(max(col("__graft_kn")).as("__graft_mx"),
          sum(col("__graft_kn")).as("__graft_n"))
        .collect()
      val delCounts = touchedBucketCounts(del)
      val touched =
        (perUp.map(_.getInt(0)).toIndexedSeq ++ delCounts.keys).distinct
      if (touched.isEmpty) {
        // an empty changeset is applied by definition, but its txn must
        // still be recorded (mergeAdditive's rule: a redelivery WITH
        // rows would re-apply)
        txn.foreach(t => commitTxnGuard(fs, dir, t, ref))
        return
      }
      requireScanCurrent(fs, tablePath, man, expectedVersion, touched,
        opName, ref)
      // SQL's cardinality check only guards MATCHED rows, so a MERGE
      // whose NOT-MATCHED clause fires twice for one source key would
      // smuggle a duplicate past it
      if (perUp.exists(_.getLong(1) > 1L))
        requireUniqueKeys(up, keys, opName) // throws with key detail
      // MERGE-ON-READ fast path (deleteVectors tables, small changeset):
      // the upserts land as one overlay epoch, the changed keys' old
      // rows die by deletion vector — a SQL UPDATE/MERGE then writes
      // ∝ its changeset, never ∝ the touched buckets
      if (!(man.deleteVectors &&
            (if (man.eqDeletes)
              eqdApply(spark, fs, tablePath, man, Some(up), Some(del), keys,
                touched, txn, opName, ref,
                incTotalHint = Some(perUp.map(_.getLong(2)).sum),
                delTotalHint = Some(delCounts.values.sum))
            else morApply(spark, fs, tablePath, man, up, Some(del), keys,
              touched, txn, opName, ref,
              incTotalHint = Some(perUp.map(_.getLong(2)).sum),
              delTotalHint = Some(delCounts.values.sum))))) {
        val existingPaths = touched.flatMap(b =>
          (if (man.epochs.contains(b)) bucketDirPaths(tablePath, man, b)
               else Seq.empty))
        // every changed key vacates its stored row: upserted keys get
        // re-inserted from `up`, deleted keys just end here
        val gone0 = up.select(keys.map(col): _*)
          .union(del.select(keys.map(col): _*)).distinct()
        val goneTotal = perUp.map(_.getLong(2)).sum + delCounts.values.sum
        val gone =
          if (goneTotal <= BroadcastKeyMax) broadcast(gone0) else gone0
        val survivors =
          if (existingPaths.isEmpty) None
          else Some(readWithSchema(spark, man, tablePath, existingPaths)
            .join(gone, keys, "left_anti"))
        val merged = survivors match {
          case None => up.drop(BucketCol)
          case Some(sv) =>
            sv.unionByName(up.select(sv.columns.map(col).toIndexedSeq: _*))
        }
        val touchedStored = touched.filter(man.epochs.contains).toSet
        writeEpochAndCommit(spark, fs, tablePath, merged, keys, nb,
          Some(man), txn, dropBuckets = touchedStored, opName = opName,
          ref = ref)
      }
      if (ref.isEmpty) {
        gc(fs, dir)
        maybeAutoSplit(spark, fs, dir, tablePath, AutoSplitBytesPerBucket)
        maybeAutoCompact(spark, fs, dir, tablePath, autoCompactEpochs)
        maybeAutoCompactMor(spark, fs, dir, tablePath)
      }
    } finally { up.unpersist(); del.unpersist(); () }
  }

  /** Compact a merge-maintained table: rewrite every live bucket into ONE
    * fresh epoch (one file per bucket, same clustered write as a merge)
    * and commit it as the next manifest version. Incremental merges
    * fragment the table over time — each round leaves touched buckets in
    * a new epoch, so a long-lived table accumulates one epoch directory
    * per merge and readers open many small files per scan (the classic
    * lakehouse small-files problem; this is Delta's OPTIMIZE / Iceberg's
    * rewrite_data_files, scaled to the manifest protocol). Row content is
    * untouched — only the physical layout changes; the bucket column is
    * carried through the rewrite, so no key knowledge is needed. Same
    * single-writer contract as [[merge]]; readers stay safe throughout
    * (the fragmented epochs survive until [[KeepManifests]] later
    * commits age them out through gc).
    */
  def compact(spark: SparkSession, tablePath: String): Unit =
    compact(spark, tablePath, targetFileBytes = 0L)

  /** [[compact]] with BOUNDED OUTPUT FILES (Delta OPTIMIZE's ~1 GB
    * target): `targetFileBytes > 0` derives a `maxRecordsPerFile` cap
    * from the manifest's own stats — bytes-per-row over files that
    * recorded row counts — so a 100 TB table's compaction emits
    * ~target-sized, cluster-ordered files per bucket instead of one
    * monolith (a multi-GB single file per bucket makes every later
    * pruned read one task and every rewrite whole-bucket-sized). Purely
    * a layout knob: falls back to the session's cap when stats carry no
    * row counts (unclustered bytes-only stats, pre-stats manifests).
    */
  def compact(spark: SparkSession, tablePath: String,
              targetFileBytes: Long): Unit =
    optimizeTable(spark, tablePath, targetFileBytes, recluster = None,
      opName = "compact")

  /** CLUSTERING RETROFIT — Delta's `OPTIMIZE ... ZORDER BY` verb for
    * the manifest protocol: rewrite the table's live data under a NEW
    * cluster spec (plain columns for linear clustering, `zorder2:a,b` /
    * `zorderN:a,b,c` for multi-dimensional), record it in the manifest,
    * and collect full per-file column stats — so a table CREATED
    * unclustered (whose hash buckets span every column's full range and
    * therefore record bytes-only stats) gains min/max data skipping
    * after the fact, and an already-clustered table can CHANGE its
    * cluster columns as the workload shifts. Every later merge,
    * auto-compact and split inherits the new spec (they all read
    * `clusterCols` from the manifest). One atomic commit; losing the
    * version CAS to a concurrent merge raises the protocol's
    * `ConcurrentModificationException` — re-run against the new state.
    */
  def clusterTable(spark: SparkSession, tablePath: String,
                   clusterBy: Seq[String],
                   targetFileBytes: Long = 0L): Unit = {
    require(clusterBy.nonEmpty,
      "clusterTable: give at least one cluster column (plain name, " +
        "zorder2:a,b, or zorderN:a,b,c)")
    optimizeTable(spark, tablePath, targetFileBytes,
      recluster = Some(clusterBy), opName = "cluster")
  }

  /** Shared rewrite core of [[compact]] and [[clusterTable]]: one new
    * epoch holding every live row, cluster-sorted per bucket, with
    * fresh stats, committed as the next version.
    */
  private def optimizeTable(spark: SparkSession, tablePath: String,
                            targetFileBytes: Long,
                            recluster: Option[Seq[String]],
                            opName: String): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man0 =>
      recluster.foreach(validateClusterCols(man0, _))
      val man = recluster.fold(man0)(cols => man0.copy(clusterCols = cols))
      val prevCap = spark.conf.getOption("spark.sql.files.maxRecordsPerFile")
      val rowsPerFile: Option[Long] =
        if (targetFileBytes <= 0) None
        else {
          val counted = man.stats.values.flatten.filter(_.rows >= 0)
          val (b, r) = (counted.map(_.bytes).sum, counted.map(_.rows).sum)
          if (r <= 0) None
          else Some(math.max(1L, targetFileBytes / math.max(1L, b / r)))
        }
      try {
        rowsPerFile.foreach(n =>
          spark.conf.set("spark.sql.files.maxRecordsPerFile", n.toString))
        val upd = compactEpochsUncommitted(spark, fs, tablePath, man)
        commitOrConflict(fs, dir, upd.copy(version = man.version + 1),
          opName)
      } finally if (rowsPerFile.isDefined) prevCap match {
        case Some(v) => spark.conf.set("spark.sql.files.maxRecordsPerFile", v)
        case None => spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
      gc(fs, dir)
    }
  }

  /** Every column a cluster spec references must exist in the recorded
    * schema — a typo'd retrofit would otherwise silently record a spec
    * no later stats collection or skip can use.
    */
  private def validateClusterCols(man: Manifest, cols: Seq[String]): Unit =
    man.schema.foreach { s =>
      val names = DataType.fromJson(s).asInstanceOf[StructType]
        .fieldNames.toSet
      val referenced = cols.flatMap { c =>
        val i = c.indexOf(':')
        if (i < 0) Seq(c)
        else c.substring(i + 1).split(",").map(_.trim).toSeq
      }
      referenced.foreach(c => require(names.contains(c),
        s"cluster: column '$c' is not in the table schema " +
          names.toSeq.sorted.mkString("(", ",", ")")))
    }

  /** The written bucket ids of a freshly-written epoch directory. */
  private def listWrittenBuckets(fs: FileSystem, epochRoot: String): Seq[Int] =
    fs.listStatus(new Path(epochRoot)).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(BucketCol + "="))
      .map(_.stripPrefix(BucketCol + "=").toInt)

  /** [[compact]]'s epoch rewrite WITHOUT a commit: write every live
    * bucket into one fresh epoch under `tableRoot` and return the
    * updated (uncommitted, version untouched) manifest state. Shared by
    * the table-level commit and the group-member variant — the rewrite
    * is identical, only the commit point differs.
    */
  private def compactEpochsUncommitted(spark: SparkSession, fs: FileSystem,
                                       tableRoot: String,
                                       man: Manifest): Manifest = {
    if (man.epochs.isEmpty) return man // fully-deleted table: nothing live
    // read each live epoch WITH its physical bucket column (partition
    // discovery over the epoch root typed by the stored schema +
    // BucketCol), keeping only the buckets the manifest assigns to it
    // id-stamped tables read by field id (pre-rename files keep their
    // old column names) and the rewrite re-records the ids verbatim —
    // the read frame's id metadata flows through union/sort into the
    // new files' footers
    if (man.colIds.nonEmpty) ensureFieldIdRead(spark)
    val epochSchema = man.schema.map(s =>
      stampSchema(DataType.fromJson(s).asInstanceOf[StructType], man.colIds)
        .add(BucketCol, IntegerType))
    val live: Iterable[DataFrame] =
      if (hasLiveDvs(man) || hasLiveEqds(man) || man.overlays.nonEmpty)
        // deletion vectors or merge-on-read overlays present: read each
        // bucket through the DV-filtering core over ALL its epochs
        // (dead rows must not survive the rewrite; overlay rows must)
        // and re-derive the physical bucket column — this rewrite is
        // also what PURGES vectors and collapses overlays (fresh stats
        // below carry neither)
        man.epochs.keys.toSeq.sorted.map { b =>
          readWithSchema(spark, man, tableRoot,
            bucketDirPaths(tableRoot, man, b))
            .withColumn(BucketCol, lit(b))
        }
      else man.epochs.groupBy(_._2)
        .map { case (e, m) =>
          epochSchema.fold(
            spark.read.option("mergeSchema", "true").parquet(s"$tableRoot/$e"))(
            sch => spark.read.schema(sch).parquet(s"$tableRoot/$e"))
            .filter(col(BucketCol).isin(m.keys.toSeq: _*))
        }
    val epoch = "e-" + UUID.randomUUID()
    val clustered = clusterSort(
      live.reduce(_ unionByName _).repartition(col(BucketCol)),
      man.clusterCols)
    // rewrites re-materialize the hidden shred columns (the schema-
    // projected live read dropped them; they're a pure function)
    withShredCols(clustered, man.shredCols)
      .write.mode(SaveMode.ErrorIfExists).partitionBy(BucketCol)
      .parquet(s"$tableRoot/$epoch")
    if (man.bloomCols.nonEmpty || man.shredCols.nonEmpty)
      writeBloomSidecar(spark, fs, s"$tableRoot/$epoch", man.bloomCols,
        man.bloomItems, man.schema, man.shredCols)
    val stats0 = collectFileStats(fs, new Path(s"$tableRoot/$epoch"),
      withColumnStats = man.clusterCols.nonEmpty,
      priorityCols = man.shredCols.map(shredColName).toSet)
    man.copy(
      epochs = listWrittenBuckets(fs, s"$tableRoot/$epoch")
        .map(_ -> epoch).toMap,
      // the rewrite folded every overlay's rows in — collapse them,
      // and it filtered every doomed key out — purge the eq-deletes
      overlays = Map.empty,
      eqds = Map.empty,
      stats =
        if (man.fingerprint)
          withFingerprints(stats0,
            fileFingerprints(spark, s"$tableRoot/$epoch", man.schema,
              man.colIds))
        else stats0)
  }

  /** PARTIAL compaction — rewrite ONLY the given buckets into one fresh
    * epoch (Iceberg's `rewrite_data_files` with a filter / Delta's
    * OPTIMIZE WHERE): the merge-on-read pressure drain. A 100 TB table
    * with a handful of DV'd or overlay-carrying buckets must not pay a
    * FULL-table rewrite to purge them — this rewrites just the
    * pressured buckets (DV-aware read folds overlays in and drops dead
    * rows; fresh stats carry neither), leaves every other bucket's
    * pointer untouched, and commits one version. A bucket whose rows
    * are all DV-dead drops its pointer. Unknown/empty bucket ids are
    * ignored. Same CAS-or-conflict commit as [[compact]].
    */
  def compactBuckets(spark: SparkSession, tablePath: String,
                     buckets: Set[Int]): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man =>
      val targets = buckets.filter(man.epochs.contains)
      if (targets.isEmpty) return
      if (man.colIds.nonEmpty) ensureFieldIdRead(spark)
      val live = targets.toSeq.sorted.map { b =>
        readWithSchema(spark, man, tablePath,
          bucketDirPaths(tablePath, man, b))
          .withColumn(BucketCol, lit(b))
      }
      val epoch = "e-" + UUID.randomUUID()
      val clustered = clusterSort(
        live.reduce(_ unionByName _).repartition(col(BucketCol)),
        man.clusterCols)
      withShredCols(clustered, man.shredCols)
        .write.mode(SaveMode.ErrorIfExists).partitionBy(BucketCol)
        .parquet(s"$tablePath/$epoch")
      val written = listWrittenBuckets(fs, s"$tablePath/$epoch").toSet
      if ((man.bloomCols.nonEmpty || man.shredCols.nonEmpty) &&
          written.nonEmpty)
        writeBloomSidecar(spark, fs, s"$tablePath/$epoch", man.bloomCols,
          man.bloomItems, man.schema, man.shredCols)
      val stats0 = collectFileStats(fs, new Path(s"$tablePath/$epoch"),
        withColumnStats = man.clusterCols.nonEmpty,
        priorityCols = man.shredCols.map(shredColName).toSet)
      val fresh =
        if (man.fingerprint && written.nonEmpty)
          withFingerprints(stats0,
            fileFingerprints(spark, s"$tablePath/$epoch", man.schema,
              man.colIds))
        else stats0
      commitOrConflict(fs, dir, man.copy(
        version = man.version + 1,
        // rewritten buckets point at the fresh epoch; a fully-dead
        // bucket (all rows DV'd) emits no directory and drops out
        epochs = (man.epochs -- targets) ++ written.map(_ -> epoch),
        overlays = man.overlays -- targets,
        eqds = man.eqds -- targets,
        stats = (man.stats -- targets) ++ fresh,
        op = "compact", opTs = System.currentTimeMillis()),
        "compactBuckets")
      gc(fs, dir)
    }
  }

  /** Advisory merge-on-read pressure drain: when DV'd files or overlay
    * entries pile past [[DvAutoCompactFiles]], rewrite ONLY the
    * pressured buckets ([[compactBuckets]]) — never the whole table
    * (at 100 TB a full rewrite for a few hot buckets would be the
    * cluster's main load). Advisory like auto-compaction: a lost race
    * never fails the commit that already landed.
    */
  private def maybeAutoCompactMor(spark: SparkSession, fs: FileSystem,
                                  dir: Path, tablePath: String): Unit =
    currentManifest(fs, dir).foreach { man =>
      val pressured = man.epochs.keys.filter { b =>
        man.overlays.get(b).exists(_.nonEmpty) ||
          man.eqds.get(b).exists(_.nonEmpty) ||
          man.stats.getOrElse(b, Seq.empty).exists(_.dv.nonEmpty)
      }.toSet
      val dvFiles = man.stats.valuesIterator
        .map(_.count(_.dv.nonEmpty)).sum
      val overlayEntries = man.overlays.valuesIterator.map(_.size).sum
      // equality-delete pressure: entry count bounds the read-side
      // anti-join branch count, total doomed keys bound the broadcast
      // (and the catalog scan's plan-time resolution probe)
      val eqdEntries = man.eqds.valuesIterator.map(_.size).sum
      val eqdKeysTotal = man.eqds.valuesIterator
        .flatMap(_.iterator.map(_.n)).sum
      // total DEAD POSITIONS pressure too: per-file dead sets are
      // cumulative across commits (prior ∪ new), so a few files can
      // carry far more positions than the per-commit cap — bounding
      // only the FILE count would let the read-side skip arrays (and
      // the serialized reader factory) grow without limit
      val dvPositionsTotal = man.stats.valuesIterator
        .flatMap(_.iterator.map(_.dvn)).sum
      if (pressured.nonEmpty &&
          (dvFiles >= DvAutoCompactFiles ||
            overlayEntries >= DvAutoCompactFiles ||
            eqdEntries >= DvAutoCompactFiles ||
            dvPositionsTotal >= DvMaxPositionsPerCommit * 4 ||
            eqdKeysTotal >= DvMaxPositionsPerCommit * 4))
        try compactBuckets(spark, tablePath, pressured)
        catch {
          case _: java.io.IOException => ()
          case _: java.util.ConcurrentModificationException => ()
        }
    }

  /** Double a table's bucket count IN PLACE — the growth path past the
    * creation-time modulus (the last structural scale limit of a
    * fixed-bucket layout: at 100× data a 64-bucket table means multi-GB
    * single files per bucket, one task per pruned read, and whole-bucket
    * rewrite granularity per merge; Delta/Iceberg re-bin at OPTIMIZE
    * time for the same reason).
    *
    * NO cross-bucket shuffle is needed: `pmod(hash, 2n)` REFINES
    * `pmod(hash, n)` — a row in bucket `b` under modulus `n` lands in
    * `b` or `b + n` under `2n`, so every old bucket file splits locally
    * into at most two children and the write below deliberately carries
    * the scan's partitioning through (no `repartition`, hence no
    * exchange in the plan; each scan task fans its rows out to its own
    * buckets' files). Epoch files store only key COLUMNS, not the hash,
    * so the split recomputes it — `keys` must be the table's merge keys
    * (the same contract every merge/delete call already carries).
    *
    * Commits as the next manifest version with `buckets = 2n`; the
    * pre-split manifest stays retained, so pinned readers keep their
    * own modulus, and any concurrent writer that planned against the
    * old modulus fails the commit CAS loudly (bucket-count conflict)
    * instead of committing unprunable pointers. Call repeatedly to
    * grow 2× per call; [[compact]] afterwards is optional (the split
    * epoch is already one directory).
    */
  def splitBuckets(spark: SparkSession, tablePath: String,
                   keys: Seq[String]): Unit = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    currentManifest(fs, dir).foreach { man =>
      val upd = splitEpochsUncommitted(spark, fs, tablePath, man, keys)
      commitOrConflict(fs, dir, upd.copy(version = man.version + 1),
        "splitBuckets")
      gc(fs, dir)
    }
  }

  /** [[splitBuckets]]'s doubled-modulus rewrite WITHOUT a commit: write
    * the refined epoch under `tableRoot` and return the updated
    * (uncommitted, version untouched) manifest state. Shared by the
    * table-level commit and the group-member variant.
    */
  private def splitEpochsUncommitted(spark: SparkSession, fs: FileSystem,
                                     tableRoot: String, man: Manifest,
                                     keys: Seq[String]): Manifest = {
    require(keys.nonEmpty, "splitBuckets requires the table's merge keys")
    validateKeys(man, keys, "splitBuckets")
    val nb2 = man.buckets * 2
    // a legacy pre-keyCols manifest upgrades here: the supplied keys are
    // recorded for every later keyed call to validate
    val keyRec = if (man.keyCols.nonEmpty) man.keyCols else keys
    val paths = allDirPaths(tableRoot, man)
    if (paths.isEmpty) man.copy(buckets = nb2, keyCols = keyRec)
    else {
      val epoch = "e-" + UUID.randomUUID()
      val rebinned = readWithSchema(spark, man, tableRoot, paths)
        .withColumn(BucketCol, pmod(hash(keys.map(col): _*), lit(nb2)))
      // clustering survives the split as a LOCAL sort (still no
      // exchange in the plan — sortWithinPartitions orders each scan
      // task's fan-out before the per-bucket file writes)
      val clustered = clusterSort(rebinned, man.clusterCols)
      withShredCols(clustered, man.shredCols)
        .write.mode(SaveMode.ErrorIfExists).partitionBy(BucketCol)
        .parquet(s"$tableRoot/$epoch")
      if (man.bloomCols.nonEmpty || man.shredCols.nonEmpty)
        writeBloomSidecar(spark, fs, s"$tableRoot/$epoch", man.bloomCols,
          man.bloomItems, man.schema, man.shredCols)
      man.copy(buckets = nb2,
        epochs = listWrittenBuckets(fs, s"$tableRoot/$epoch")
          .map(_ -> epoch).toMap,
        overlays = Map.empty,
        eqds = Map.empty,
        keyCols = keyRec,
        stats = collectFileStats(fs, new Path(s"$tableRoot/$epoch"),
        withColumnStats = man.clusterCols.nonEmpty,
        priorityCols = man.shredCols.map(shredColName).toSet))
    }
  }

  /** Read a merge-maintained table at its latest committed version (or a
    * pre-manifest/plain parquet directory, for compatibility), without the
    * physical bucket column.
    */
  def readTable(spark: SparkSession, tablePath: String): DataFrame = {
    val fs = fsFor(spark, tablePath)
    currentManifest(fs, new Path(tablePath)) match {
      case Some(m) =>
        val paths = allDirPaths(tablePath, m)
        stripFrame(readWithSchema(spark, m, tablePath, paths))
      case None => spark.read.parquet(tablePath).drop(BucketCol)
    }
  }

  /** Committed manifest versions still retained on disk (ascending) —
    * the readable time-travel range: [[KeepManifests]] bounds it, so a
    * reader can pin the previous version across one concurrent commit.
    */
  def availableVersions(spark: SparkSession, tablePath: String): Seq[Long] =
    manifestFiles(fsFor(spark, tablePath), new Path(tablePath)).map(_._1)

  /** Time travel: read the table AS OF a specific committed manifest
    * version (Delta's `VERSION AS OF` / Iceberg's snapshot reads, scaled
    * to the manifest protocol). Epoch files are immutable and every
    * retained manifest's epochs survive gc, so a pinned read is stable
    * even while newer merges commit. Only the last [[KeepManifests]]
    * versions are retained — asking for an aged-out version fails loudly
    * with the readable range instead of silently reading the wrong data.
    */
  def readTableVersion(spark: SparkSession, tablePath: String,
                       version: Long): DataFrame = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val retained = manifestFiles(fs, dir)
    val hit = retained.find(_._1 == version).getOrElse(
      throw new IllegalArgumentException(
        s"readTableVersion: version $version not retained for $tablePath " +
          s"(readable: ${retained.map(_._1).mkString(", ")})"))
    val m = readManifest(fs, version, hit._2)
    val paths = allDirPaths(tablePath, m)
    // each retained version reads with ITS OWN recorded schema — a pinned
    // read before an evolution (or a rename) sees the old columns
    stripFrame(readWithSchema(spark, m, tablePath, paths))
  }

  /** [[readTableWhere]] AS OF a retained version: data skipping composes
    * with time travel — the pinned manifest's stats and Bloom sidecars
    * prune exactly as the current version's do (stats ride IN the
    * manifest and sidecars in the epoch dirs, so every retained version
    * carries its own). The audit shape: "this key/date window, as of
    * before the bad load".
    */
  def readTableVersionWhere(spark: SparkSession, tablePath: String,
                            version: Long,
                            ranges: Seq[ColumnPredicate]): DataFrame = {
    require(ranges.nonEmpty,
      "readTableVersionWhere requires at least one predicate")
    val fs = fsFor(spark, tablePath)
    val retained = manifestFiles(fs, new Path(tablePath))
    val hit = retained.find(_._1 == version).getOrElse(
      throw new IllegalArgumentException(
        s"readTableVersionWhere: version $version not retained for " +
          s"$tablePath (readable: ${retained.map(_._1).mkString(", ")})"))
    whereReadFromManifest(spark, tablePath,
      readManifest(fs, version, hit._2), ranges)
  }

  /** Time travel by WALL CLOCK (Delta's `TIMESTAMP AS OF`): read the
    * table at the latest version COMMITTED at or before `timestampMs`
    * — manifest publish times are the commit instants (each version is
    * one atomically-renamed file). Only retained versions are
    * resolvable; an instant before the earliest retained commit fails
    * loudly with the readable range, never silently reads newer data.
    */
  def readTableAsOf(spark: SparkSession, tablePath: String,
                    timestampMs: Long): DataFrame = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    val retained = manifestFiles(fs, dir)
    val hit = retained.filter { case (_, p) =>
      fs.getFileStatus(p).getModificationTime <= timestampMs
    }.lastOption.getOrElse(throw new IllegalArgumentException(
      s"readTableAsOf: no retained version of $tablePath committed at or " +
        s"before $timestampMs (readable commits: " +
        retained.map { case (v, p) =>
          s"$v@${fs.getFileStatus(p).getModificationTime}"
        }.mkString(", ") + ")"))
    readTableVersion(spark, tablePath, hit._1)
  }

  /** Keyed point-lookup read: resolve the key-hash buckets of the
    * requested keys and scan ONLY those bucket directories — the
    * manifest-protocol equivalent of partition pruning for key
    * predicates. A lookup of k keys reads ≤ k buckets of the table
    * regardless of table size (vs. a full scan + filter), which is the
    * difference between a point-read and a table-read at 100 TB. The
    * requested-key frame must be lookup-sized (it drives one bounded
    * metadata job for the bucket set, exactly [[merge]]'s shape, and
    * then semi-joins the pruned scan).
    */
  def readKeys(spark: SparkSession, tablePath: String, wanted: DataFrame,
               keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "readKeys requires at least one key column")
    val fs = fsFor(spark, tablePath)
    currentManifest(fs, new Path(tablePath)) match {
      case None =>
        readTable(spark, tablePath)
          .join(wanted.select(keys.map(col): _*).distinct(), keys, "left_semi")
      case Some(man) =>
        keysReadFromManifest(spark, tablePath, man, wanted, keys, "readKeys")
    }
  }

  /** [[readKeys]] for a group member: the same bucket-pruned,
    * stats-and-bloom-skipped point lookup against the member's state
    * pinned in the current GROUP manifest — the reference's L1 hot path
    * ("this work item's state row") without scanning the member.
    */
  def readGroupKeys(spark: SparkSession, groupPath: String, name: String,
                    wanted: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "readGroupKeys requires at least one key column")
    val fs = fsFor(spark, groupPath)
    val (_, man) = requireMember(fs, groupPath, name, "readGroupKeys")
    keysReadFromManifest(spark, s"$groupPath/$name", man, wanted, keys,
      "readGroupKeys")
  }

  /** The bucket-pruned point-lookup core shared by [[readKeys]] and
    * [[readGroupKeys]].
    */
  private def keysReadFromManifest(spark: SparkSession, tableRoot: String,
                                   man: Manifest, wanted: DataFrame,
                                   keys: Seq[String], op: String): DataFrame = {
    val fs = fsFor(spark, tableRoot)
    validateKeys(man, keys, op)
    // no persist: the returned frame is LAZY, and the wanted side is
    // lookup-sized by contract — recomputing it inside the semi-join
    // is cheaper than a cache outliving this call
    val w = wanted.select(keys.map(col): _*).distinct()
      .withColumn(BucketCol,
        pmod(hash(keys.map(col): _*), lit(man.buckets)))
    // ONE bounded collect (lookup-sized by contract) serves both the
    // touched-bucket set and per-key file skipping below
    val wantedRows = w.collect()
    val keyTypes = w.schema.fields.take(keys.size).map(_.dataType)
    val byBucket = wantedRows.groupBy(_.getInt(keys.size))
    // bucket → file skipping: inside a matched bucket, a file whose
    // recorded per-column range excludes EVERY wanted tuple can't
    // hold any wanted row — with the table clustered on a key
    // column, a k-key lookup opens ≤ k FILES per bucket, not the
    // bucket's whole history (Delta's stats-based point lookup,
    // completing the bucket-pruned read at wide-bucket scale). A
    // file or column without stats is always kept — lossless.
    // Bloom sidecars extend the per-file check to UNCLUSTERED key
    // columns: a hash bucket's files all span the full key range (no
    // stat can skip them), but each file's filter can prove a wanted
    // key absent — point lookups stay ≤ k files/bucket without
    // having to cluster by the key
    val sidecars = scala.collection.mutable.Map
      .empty[String, Map[String, Map[String, Array[Byte]]]]
    def tupleCouldBeIn(e: String, b: Int, fileStat: FileStat,
                      row: org.apache.spark.sql.Row): Boolean =
      keys.indices.forall { i =>
        val v = row.get(i)
        if (v == null) true
        else boundToCanon(keyTypes(i), v) match {
          case Some((tag, cv)) =>
            fileIntersects(fileStat, keys(i),
              lo = Some((tag, cv)), hi = Some((tag, cv))) &&
              (!man.bloomCols.contains(keys(i)) ||
                (sidecars.getOrElseUpdate(e,
                  readBloomSidecar(fs, s"$tableRoot/$e"))
                  .get(s"$BucketCol=$b/${fileStat.name}")
                  .flatMap(_.get(keys(i))) match {
                  case Some(bytes) => bloomMightContain(bytes, tag, cv)
                  case None => true
                }))
          case None => true
        }
      }
    val paths = byBucket.keys.toSeq.sorted.flatMap { b =>
      man.epochs.get(b).toSeq.flatMap { e =>
        man.stats.get(b) match {
          case Some(fss) =>
            fss.filter(f => byBucket(b).exists(
                tupleCouldBeIn(fileEpoch(man, b, f), b, f, _)))
              .map(f => fileReadPath(tableRoot, man, b, f))
          case None => bucketDirPaths(tableRoot, man, b)
        }
      }
    }
    val base =
      if (paths.nonEmpty) stripFrame(readWithSchema(spark, man, tableRoot, paths))
      else man.schema match {
        case Some(s) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          DataType.fromJson(s).asInstanceOf[StructType])
        // pre-schema manifest: an empty typed frame needs the footers
        case None => readTable(spark, tableRoot).limit(0)
      }
    base.join(w.drop(BucketCol), keys, "left_semi")
  }

  /** Range read with DATA SKIPPING (Delta's file-stats skipping /
    * Iceberg's manifest min/max pruning, scaled to this protocol): scan
    * only the data files whose recorded [min, max] for `column`
    * intersects `[lower, upper]`, then apply the exact predicate as a
    * residual filter. With the table clustered on `column` (see
    * [[Manifest.clusterCols]]: `merge(..., clusterBy = Seq(column))` +
    * `spark.sql.files.maxRecordsPerFile`), a narrow range opens a
    * file count proportional to the MATCHED range, not the table — the
    * difference between a dashboard's 90-day CFD window and a full
    * 100 TB scan (ref `calculate_cfd.sql:8-16` reads exactly such a
    * date window over snapshots). Files without usable stats for the
    * column are always read (skipping only ever removes provably
    * irrelevant I/O), so results equal `readTable().filter(range)` on
    * ANY table, clustered or not, stats or none. Bounds are inclusive;
    * accepted bound types per column type: numbers/strings for
    * numerics, `java.sql.Date`/`LocalDate`/ISO strings for dates,
    * `Timestamp`/`Instant`/`LocalDateTime`/ISO strings for timestamps.
    */
  def readTableRange(spark: SparkSession, tablePath: String, column: String,
                     lower: Option[Any] = None,
                     upper: Option[Any] = None): DataFrame = {
    val fs = fsFor(spark, tablePath)
    currentManifest(fs, new Path(tablePath)) match {
      case None =>
        applyRange(readTable(spark, tablePath), column, lower, upper)
      case Some(man) =>
        rangeReadFromManifest(spark, tablePath, man, column, lower, upper)
    }
  }

  private def applyRange(df: DataFrame, column: String, lower: Option[Any],
                         upper: Option[Any]): DataFrame = {
    val dt = df.schema(column).dataType
    val conds = lower.map(v => col(column) >= lit(v).cast(dt)).toSeq ++
      upper.map(v => col(column) <= lit(v).cast(dt))
    conds.reduceOption(_ && _).map(df.filter).getOrElse(df)
  }

  /** The exact residual condition of one [[ColumnPredicate]] — always
    * applied after skipping, so results never depend on stats/blooms.
    */
  private def predicateCond(df: DataFrame,
                            p: ColumnPredicate): org.apache.spark.sql.Column =
    p match {
      case ColumnRange(c, lo, hi) =>
        val dt = df.schema(c).dataType
        (lo.map(v => col(c) >= lit(v).cast(dt)).toSeq ++
          hi.map(v => col(c) <= lit(v).cast(dt)))
          .reduceOption(_ && _).getOrElse(lit(true))
      case ColumnIn(c, vs) =>
        val dt = df.schema(c).dataType
        vs.map(v => col(c) === lit(v).cast(dt))
          .reduceOption(_ || _).getOrElse(lit(false))
      case ColumnNull(c, isNull) =>
        if (isNull) col(c).isNull else col(c).isNotNull
      case ColumnOr(branches) =>
        branches.map(_.map(predicateCond(df, _))
            .reduceOption(_ && _).getOrElse(lit(true)))
          .reduceOption(_ || _).getOrElse(lit(true))
    }

  private def applyPredicate(df: DataFrame, p: ColumnPredicate): DataFrame =
    df.filter(predicateCond(df, p))

  /** One column term of [[readTableWhere]]'s conjunction. */
  sealed trait ColumnPredicate { def column: String }

  /** One column's inclusive range predicate: either bound may be open
    * (None). A degenerate range (lower == upper) is an equality probe
    * and additionally consults the table's Bloom sidecars.
    */
  case class ColumnRange(column: String, lower: Option[Any],
                         upper: Option[Any]) extends ColumnPredicate

  /** IN-list membership — the disjunction of point probes (`WHERE col
    * IN (…)`): a file survives if ANY listed value could be in it, per
    * min/max stats and (on declared Bloom columns) the per-file filter.
    * The lookup-by-id-set shape of the reference's reingest and
    * deleted-item scans.
    */
  case class ColumnIn(column: String, values: Seq[Any])
      extends ColumnPredicate

  /** IS NULL / IS NOT NULL (Delta's nullCount skipping): per-file null
    * counts recorded from the parquet footers let `IS NULL` skip files
    * with zero nulls and `IS NOT NULL` skip all-null files — and since
    * Catalyst conjoins an implicit IS NOT NULL onto every comparison
    * filter, a sparse column's all-null files prune on ANY probe of it.
    */
  case class ColumnNull(column: String, isNull: Boolean)
      extends ColumnPredicate

  /** A DISJUNCTION of predicate conjunctions — the top-level-OR shape
    * `(date window) OR (id IN …)` that a single-column term can't
    * express. File keep = the UNION of the branches' file sets: a file
    * survives if ANY branch's constraints admit it, so the OR prunes
    * exactly when every branch prunes (a branch contributing no usable
    * constraint keeps everything, correctly disabling the skip). Spans
    * columns, so the trait's single-column accessor is empty.
    */
  case class ColumnOr(branches: Seq[Seq[ColumnPredicate]])
      extends ColumnPredicate {
    override def column: String = ""
  }

  /** Multi-predicate data-skipping read: the conjunction (AND) of
    * column predicates — ranges and IN-lists — the dashboard shape
    * "this cohort AND this date window AND these ids". A file survives
    * only if its recorded stats (and Bloom sidecars, for equality and
    * IN probes on declared columns) admit EVERY predicate, so with
    * Z-order clustering (see `zorder2` in [[Manifest.clusterCols]]) the
    * opened set approaches the query's rectangle instead of one
    * dimension's stripe. Exact residual filters apply per column;
    * results always equal `readTable().filter(p1 && p2 && …)`.
    */
  def readTableWhere(spark: SparkSession, tablePath: String,
                     ranges: Seq[ColumnPredicate]): DataFrame = {
    require(ranges.nonEmpty, "readTableWhere requires at least one predicate")
    val fs = fsFor(spark, tablePath)
    currentManifest(fs, new Path(tablePath)) match {
      case None =>
        ranges.foldLeft(readTable(spark, tablePath))(applyPredicate)
      case Some(man) =>
        whereReadFromManifest(spark, tablePath, man, ranges)
    }
  }

  /** One file-keep function per predicate whose bounds/values all
    * canonicalize; a predicate that doesn't never prunes (its exact
    * residual filter still applies downstream — lossless by
    * construction). "Might hold" = min/max stats first, then (on
    * declared Bloom columns) the per-file sidecar filter: the skip
    * that works on high-cardinality columns the table is NOT clustered
    * by, where every file's [min,max] spans the domain and stats alone
    * never skip. Shared by [[whereReadFromManifest]] and the Catalyst
    * FileIndex path ([[indexCandidateFiles]]).
    */
  private def fileKeepFns(fs: FileSystem, tableRoot: String, man: Manifest,
                          ranges: Seq[ColumnPredicate])
      : Seq[(String, Int, FileStat) => Boolean] = {
    val schema = man.schema.map(s =>
      DataType.fromJson(s).asInstanceOf[StructType])
    // hidden shred columns aren't in the table schema — their probe
    // type comes from the declaration
    val shredTypes = shredTypesOf(man)
    def colType(c: String) =
      schema.flatMap(_.fields.find(_.name == c)).map(_.dataType)
        .orElse(shredTypes.get(c))
    val sidecars = scala.collection.mutable.Map
      .empty[String, Map[String, Map[String, Array[Byte]]]]
    def mightHold(e: String, b: Int, f: FileStat, c: String,
                  tag: Char, v: Any): Boolean =
      fileIntersects(f, c, Some((tag, v)), Some((tag, v))) &&
        (!(man.bloomCols.contains(c) || shredTypes.contains(c)) ||
          (sidecars.getOrElseUpdate(e, readBloomSidecar(fs, s"$tableRoot/$e"))
            .get(s"$BucketCol=$b/${f.name}").flatMap(_.get(c)) match {
            case Some(bytes) => bloomMightContain(bytes, tag, v)
            case None => true
          }))
    ranges.flatMap {
      case ColumnRange(c, lower, upper) =>
        val dt = colType(c)
        val lo = for { d <- dt; v <- lower; cv <- boundToCanon(d, v) } yield cv
        val hi = for { d <- dt; v <- upper; cv <- boundToCanon(d, v) } yield cv
        (lo, hi) match {
          case (Some((t1, v1)), Some((t2, v2))) if t1 == t2 && v1 == v2 =>
            // degenerate range = equality probe (stats AND bloom)
            Some((e: String, b: Int, f: FileStat) => mightHold(e, b, f, c, t1, v1))
          case (None, None) => None
          case _ =>
            Some((_: String, _: Int, f: FileStat) => fileIntersects(f, c, lo, hi))
        }
      case ColumnIn(c, values) =>
        val dt = colType(c)
        val canonVs = values.map(v => dt.flatMap(boundToCanon(_, v)))
        if (canonVs.isEmpty || canonVs.exists(_.isEmpty)) None
        else Some((e: String, b: Int, f: FileStat) =>
          canonVs.flatten.exists { case (tag, v) => mightHold(e, b, f, c, tag, v) })
      case ColumnNull(c, true) =>
        // a file with a RECORDED zero null count provably holds no NULLs
        Some((_: String, _: Int, f: FileStat) => !f.nulls.get(c).contains(0L))
      case ColumnNull(c, false) =>
        // an all-null file (nulls == rows, both recorded) has no
        // NOT-NULL row to contribute
        Some((_: String, _: Int, f: FileStat) =>
          !(f.rows >= 0 && f.nulls.get(c).contains(f.rows)))
      case ColumnOr(branches) =>
        // union of the branches' keep sets; a branch with no usable
        // constraints keeps every file, so the OR prunes nothing
        val branchKeeps = branches.map(b => fileKeepFns(fs, tableRoot,
          man, b))
        if (branches.isEmpty || branchKeeps.exists(_.isEmpty)) None
        else Some((e: String, b: Int, f: FileStat) =>
          branchKeeps.exists(_.forall(_(e, b, f))))
    }
  }

  /** Pruned snapshot read of a PINNED manifest, empty predicate list
    * allowed — the read behind the V1 bridge that serves
    * `format("graft")` scans of DELETION-VECTOR-bearing versions (the
    * plain V1 file scan cannot position-filter; this core can; the
    * CATALOG path filters positions inside its native DSv2 scan).
    * Pushed predicates prune files through the same stats/Bloom keep
    * functions as every storage read; Spark re-evaluates them exactly
    * on top.
    */
  private[sources] def readPinnedWhere(spark: SparkSession,
                                       tableRoot: String, man: Manifest,
                                       ranges: Seq[ColumnPredicate])
      : DataFrame =
    if (ranges.nonEmpty) whereReadFromManifest(spark, tableRoot, man, ranges)
    else {
      val paths = allDirPaths(tableRoot, man)
      if (paths.nonEmpty)
        stripFrame(readWithSchema(spark, man, tableRoot, paths))
      else man.schema match {
        case Some(s) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          stripSchemaIds(DataType.fromJson(s).asInstanceOf[StructType]))
        case None => spark.emptyDataFrame
      }
    }

  private def whereReadFromManifest(spark: SparkSession, tableRoot: String,
                                    man: Manifest,
                                    ranges: Seq[ColumnPredicate]): DataFrame = {
    val fs = fsFor(spark, tableRoot)
    val schema = man.schema.map(s =>
      DataType.fromJson(s).asInstanceOf[StructType])
    val keeps = fileKeepFns(fs, tableRoot, man, ranges)
    val paths = man.epochs.toSeq.sortBy(_._1).flatMap { case (b, e) =>
      man.stats.get(b) match {
        case Some(fss) if keeps.nonEmpty =>
          fss.filter(f => keeps.forall(_(fileEpoch(man, b, f), b, f)))
            .map(f => fileReadPath(tableRoot, man, b, f))
        case _ => bucketDirPaths(tableRoot, man, b)
      }
    }
    val base =
      if (paths.nonEmpty) stripFrame(readWithSchema(spark, man, tableRoot, paths))
      else schema match {
        case Some(s) => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
        case None => spark.emptyDataFrame
      }
    ranges.foldLeft(base)(applyPredicate)
  }

  /** Canonical stats value → the column's external Spark value (the
    * exact inverse of the [[boundToCanon]] / [[canonMinMax]] domain).
    */
  private def canonToExternal(dt: DataType, s: String): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType => s.toLong.toByte
      case ShortType => s.toLong.toShort
      case IntegerType => s.toLong.toInt
      case LongType => s.toLong
      case DateType =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(s.toLong))
      case TimestampType =>
        val us = s.toLong
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      case TimestampNTZType =>
        val us = s.toLong
        java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case FloatType => s.toDouble.toFloat
      case DoubleType => s.toDouble
      case StringType => s
      case other => throw new IllegalArgumentException(
        s"statsAggregate: unsupported stats type $other")
    }
  }

  /** Metadata-only aggregate (Delta answers `SELECT COUNT(*)` — and
    * Databricks' engine MIN/MAX — from the transaction log the same
    * way): `COUNT(*)` plus `MIN`/`MAX` of the requested columns served
    * purely from the manifest's per-file stats, ZERO data-file I/O —
    * at 100 TB the difference between a metadata read and a full scan
    * for the most common dashboard probe there is. Exactness rules:
    * row counts must be recorded for every file (clustered tables
    * record them from the parquet footers at commit), and every file
    * must carry a min/max entry for every requested column (an entry
    * covers the file's non-null values — exactly SQL MIN/MAX
    * semantics; a file whose stats were dropped for the column is
    * indistinguishable from an all-null file, so ANY missing piece
    * falls back to one exact table scan, never a wrong answer).
    * Output: `cnt` ++ per column `min_<c>`, `max_<c>`.
    */
  def statsAggregate(spark: SparkSession, tablePath: String,
                     minMaxCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    def scanFallback(): DataFrame = {
      val t = readTable(spark, tablePath)
      t.agg(count(lit(1)).as("cnt"),
        minMaxCols.flatMap(c => Seq(count(col(c)).as(s"cnt_$c"),
          min(col(c)).as(s"min_$c"),
          max(col(c)).as(s"max_$c"))): _*)
    }
    val fs = fsFor(spark, tablePath)
    currentManifest(fs, new Path(tablePath)) match {
      case None => scanFallback()
      case Some(man) =>
        val schema = man.schema.map(s =>
          DataType.fromJson(s).asInstanceOf[StructType])
        val statsPerBucket = man.epochs.keys.toSeq.map(man.stats.get)
        if (schema.isEmpty || statsPerBucket.exists(_.isEmpty))
          return scanFallback()
        val files = statsPerBucket.flatMap(_.get)
        if (files.exists(_.rows < 0)) return scanFallback()
        // deletion vectors make per-file counts and min/max stale
        // relative to LIVE rows (a dead row may have been the min) —
        // metadata can no longer answer exactly, so scan (compaction
        // purges the vectors and restores the metadata-only path)
        if (files.exists(_.dvn > 0)) return scanFallback()
        // equality deletes kill an UNKNOWN number of stored rows (the
        // doomed keys were never resolved against the data) — metadata
        // cannot answer counts at all while any record is live
        if (hasLiveEqds(man)) return scanFallback()
        val colTypes = minMaxCols.map(c =>
          schema.get.fields.find(_.name == c).map(_.dataType))
        if (colTypes.exists(_.isEmpty)) return scanFallback()
        // empty table (truncating overwrite / delete-all left zero files):
        // SQL's answer is cnt=0 with NULL min/max — still metadata-only
        if (files.isEmpty) {
          val outSchema = StructType(
            StructField("cnt", LongType, nullable = false) +:
              minMaxCols.zip(colTypes.map(_.get)).flatMap { case (c, dt) =>
                Seq(StructField(s"cnt_$c", LongType, nullable = false),
                  StructField(s"min_$c", dt, nullable = true),
                  StructField(s"max_$c", dt, nullable = true))
              })
          val values: Seq[Any] = 0L +:
            minMaxCols.flatMap(_ => Seq(0L, null, null))
          return spark.createDataFrame(
            java.util.Collections.singletonList(Row(values: _*)), outSchema)
        }
        val served = minMaxCols.zip(colTypes.map(_.get)).map { case (c, dt) =>
          val tag = boundToCanon(dt, canonProbe(dt)).map(_._1)
          if (tag.isEmpty ||
              files.exists(f => !f.mins.contains(c) || !f.maxs.contains(c) ||
                !f.nulls.contains(c)))
            None
          else {
            val t = tag.get
            def parse(s: String): Any = t match {
              case 'L' => s.toLong
              case 'D' => s.toDouble
              case _ => s
            }
            val mn = files.map(f => parse(f.mins(c)))
              .reduce((a, b) => if (cmpTagged(t, a, b) <= 0) a else b)
            val mx = files.map(f => parse(f.maxs(c)))
              .reduce((a, b) => if (cmpTagged(t, a, b) >= 0) a else b)
            // COUNT(col) = SQL's non-null count: rows minus recorded nulls
            val nonNull = files.map(f => f.rows - f.nulls(c)).sum
            Some((nonNull, canonToExternal(dt, mn.toString),
              canonToExternal(dt, mx.toString), dt))
          }
        }
        if (served.exists(_.isEmpty)) return scanFallback()
        val outSchema = StructType(
          StructField("cnt", LongType, nullable = false) +:
            minMaxCols.zip(served.map(_.get)).flatMap {
              case (c, (_, _, _, dt)) =>
                Seq(StructField(s"cnt_$c", LongType, nullable = false),
                  StructField(s"min_$c", dt, nullable = true),
                  StructField(s"max_$c", dt, nullable = true))
            })
        val values: Seq[Any] = files.map(_.rows).sum +:
          served.flatMap { case Some((nn, mn, mx, _)) => Seq(nn, mn, mx)
                           case None => Seq.empty }
        spark.createDataFrame(
          java.util.Collections.singletonList(Row(values: _*)), outSchema)
    }
  }

  /** A representative external value per type, used only to resolve the
    * canonical stats TAG of a column type through [[boundToCanon]].
    */
  private def canonProbe(dt: DataType): Any = {
    import org.apache.spark.sql.types._
    dt match {
      case DateType => java.time.LocalDate.ofEpochDay(0L)
      case TimestampType => java.time.Instant.EPOCH
      case TimestampNTZType => java.time.LocalDateTime.of(1970, 1, 1, 0, 0)
      case StringType => ""
      case FloatType | DoubleType => 0.0d
      case _ => 0L
    }
  }

  /** Resolve the manifest a Catalyst-facing read pins: the current
    * version, `VERSION AS OF`, or `TIMESTAMP AS OF` — the same
    * resolution rules (and the same loud failure on an aged-out
    * version) as [[readTableVersion]] / [[readTableAsOf]]. None = the
    * path has no manifest (not a graft table).
    */
  private[sources] def pinManifest(spark: SparkSession, tablePath: String,
                                   versionAsOf: Option[Long],
                                   timestampMsAsOf: Option[Long],
                                   branch: Option[String] = None)
      : Option[Manifest] = {
    val fs = fsFor(spark, tablePath)
    val dir = new Path(tablePath)
    branch.foreach { b =>
      return Some(branchHead(fs, dir, b).getOrElse(
        throw new IllegalArgumentException(
          s"branch: no branch '$b' on $tablePath")))
    }
    versionAsOf match {
      case Some(v) =>
        val retained = manifestFiles(fs, dir)
        val hit = retained.find(_._1 == v).getOrElse(
          throw new IllegalArgumentException(
            s"versionAsOf: version $v not retained for $tablePath " +
              s"(readable: ${retained.map(_._1).mkString(", ")})"))
        Some(readManifest(fs, v, hit._2))
      case None => timestampMsAsOf match {
        case Some(ts) =>
          val retained = manifestFiles(fs, dir)
          val hit = retained.filter { case (_, p) =>
            fs.getFileStatus(p).getModificationTime <= ts
          }.lastOption.getOrElse(throw new IllegalArgumentException(
            s"timestampAsOf: no retained version of $tablePath committed " +
              s"at or before $ts"))
          Some(readManifest(fs, hit._1, hit._2))
        case None => currentManifest(fs, dir)
      }
    }
  }

  /** [[pinManifest]] for a GROUP member: resolve the group manifest the
    * read pins (current version, `VERSION AS OF` a retained group
    * version, or `TIMESTAMP AS OF` a commit instant) and return the
    * member's table manifest out of it — the member's whole state is
    * embedded in the group commit, so a pinned member read is
    * consistent with every sibling pinned at the same version.
    */
  private[sources] def pinGroupMember(spark: SparkSession, groupPath: String,
                                      name: String, versionAsOf: Option[Long],
                                      timestampMsAsOf: Option[Long])
      : Option[Manifest] = {
    val fs = fsFor(spark, groupPath)
    val dir = new Path(groupPath)
    def memberOf(v: Long, p: Path): Manifest = {
      val node = readJsonFile(fs, p)
      val tables = scala.collection.mutable.Map.empty[String, Manifest]
      node.get("tables").fields().forEachRemaining { t =>
        tables(t.getKey) = manifestFromNode(t.getValue, v)
      }
      tables.getOrElse(name, throw new IllegalArgumentException(
        s"graft: member '$name' not in group $groupPath at version $v " +
          s"(members: ${tables.keys.toSeq.sorted.mkString(", ")})"))
    }
    versionAsOf match {
      case Some(v) =>
        val retained = manifestFiles(fs, dir, GroupPrefix)
        val hit = retained.find(_._1 == v).getOrElse(
          throw new IllegalArgumentException(
            s"versionAsOf: group version $v not retained for $groupPath " +
              s"(readable: ${retained.map(_._1).mkString(", ")})"))
        Some(memberOf(v, hit._2))
      case None => timestampMsAsOf match {
        case Some(ts) =>
          val retained = manifestFiles(fs, dir, GroupPrefix)
          val hit = retained.filter { case (_, p) =>
            fs.getFileStatus(p).getModificationTime <= ts
          }.lastOption.getOrElse(throw new IllegalArgumentException(
            s"timestampAsOf: no retained group version of $groupPath " +
              s"committed at or before $ts"))
          Some(memberOf(hit._1, hit._2))
        case None =>
          currentGroupManifest(fs, dir).flatMap { g =>
            Some(g.tables.getOrElse(name,
              throw new IllegalArgumentException(
                s"graft: member '$name' not in group $groupPath " +
                  s"(members: ${g.tables.keys.toSeq.sorted.mkString(", ")})")))
          }
      }
    }
  }

  /** The group's current committed version (None while no commit). */
  private[sources] def currentGroupVersion(spark: SparkSession,
                                           groupPath: String): Option[Long] =
    currentGroupManifest(fsFor(spark, groupPath), new Path(groupPath))
      .map(_.version)

  /** The pinned manifest's data schema — recorded at commit for every
    * post-evolution table; a legacy manifest without one falls back to
    * a one-off parquet footer merge over its epochs.
    */
  /** The SQL-catalog-facing schema: [[indexSchema]] with merge keys
    * surfaced NOT NULL (the write side enforces it — see
    * `bucketExprChecked` — and Spark's row-level DML requires
    * non-nullable row-id attributes). ONE definition shared by the
    * catalog table and the row-level operation's scan, so the two can
    * never drift. The NOT NULL claim is EVIDENCE-GATED on the
    * manifest's [[Manifest.keysChecked]] certificate: a table whose
    * live epochs predate the write-side AssertNotNull enforcement could
    * hold stored NULL keys, and letting Catalyst null-eliminate over
    * them would silently return wrong rows — such a table keeps
    * nullable keys (and therefore no SQL row-level DML) until a full
    * rewrite (INSERT OVERWRITE / REPLACE TABLE) re-certifies it.
    */
  private[sources] def sqlSchema(spark: SparkSession, tablePath: String,
                                 man: Manifest): StructType = {
    val s = indexSchema(spark, tablePath, man)
    if (man.keyCols.isEmpty || !man.keysChecked) s
    else StructType(s.fields.map(f =>
      // identity MERGE KEYS are reported NOT NULL like any key: Spark's
      // row-level rewrites hard-require non-nullable row-id attributes
      // (NULLABLE_ROW_ID_ATTRIBUTES), and UPDATE/MERGE on the table
      // must keep working. The cost: SQL INSERT on an identity-KEYED
      // table supplies explicit keys (the omitted/NULL sentinel is
      // blocked by Spark's write resolution before storage could
      // assign); API writes assign as ever. Non-key identity columns
      // stay nullable-sentinel and fully SQL-usable.
      if (man.keyCols.contains(f.name)) f.copy(nullable = false) else f))
  }

  private[sources] def indexSchema(spark: SparkSession, tablePath: String,
                                   man: Manifest): StructType =
    man.schema.map(s => DataType.fromJson(s).asInstanceOf[StructType])
      .getOrElse {
        val paths = allDirPaths(tablePath, man)
        spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
      }

  /** The file set a pinned read must scan under a conjunction of
    * predicates, with per-file sizes — the [[fileKeepFns]] stats+Bloom
    * skip resolved to concrete (path, bytes) pairs for Catalyst's
    * FileIndex contract. Buckets without recorded file stats fall back
    * to a directory listing (kept wholesale: skipping only ever removes
    * provably irrelevant I/O).
    */
  /** The key-hash bucket a fully-specified key tuple lands in — the
    * DRIVER-SIDE evaluation of the write path's
    * `pmod(hash(keys…), buckets)` (Spark's `hash` = Murmur3 seed 42;
    * `Literal.create` converts each external value to the internal form
    * the column scan would hash, so writer and prober agree
    * bit-for-bit). `values` must follow `man.keyCols` ORDER — the hash
    * is order-sensitive, same contract [[validateKeys]] enforces on
    * writes. None = a value failed conversion → caller must not prune.
    */
  private[sources] def bucketOfKeyTuple(man: Manifest, schema: StructType,
                                        values: Seq[Any]): Option[Int] =
    scala.util.Try {
      val lits = man.keyCols.zip(values).map { case (c, v) =>
        val dt = schema.fields.find(_.name == c).get.dataType
        org.apache.spark.sql.catalyst.expressions.Literal.create(v, dt)
          : org.apache.spark.sql.catalyst.expressions.Expression
      }
      val h = new org.apache.spark.sql.catalyst.expressions.Murmur3Hash(lits)
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Int]
      Math.floorMod(h, man.buckets)
    }.toOption

  private[sources] def indexCandidateFiles(spark: SparkSession,
                                           tableRoot: String, man: Manifest,
                                           ranges: Seq[ColumnPredicate],
                                           bucketFilter: Option[Set[Int]] =
                                             None)
      : Seq[(Path, Long)] = {
    val fs = fsFor(spark, tableRoot)
    val keeps =
      if (ranges.isEmpty) Seq.empty else fileKeepFns(fs, tableRoot, man, ranges)
    man.epochs.toSeq.sortBy(_._1)
      .filter { case (b, _) => bucketFilter.forall(_.contains(b)) }
      .flatMap { case (b, e) =>
      man.stats.get(b) match {
        case Some(fss) =>
          val kept =
            if (keeps.isEmpty) fss
            else fss.filter(f => keeps.forall(_(fileEpoch(man, b, f), b, f)))
          kept.map(f =>
            (new Path(fileReadPath(tableRoot, man, b, f)), f.bytes))
        case None =>
          val d = new Path(bucketPath(tableRoot, e, b))
          if (fs.exists(d))
            fs.listStatus(d).toSeq
              .filter(st => !st.isDirectory &&
                st.getPath.getName.startsWith("part-"))
              .map(st => (st.getPath, st.getLen))
          else Seq.empty
      }
    }
  }

  /** The skip-then-residual-filter core shared by [[readTableRange]] and
    * [[readGroupTableRange]]: one range is just the 1-element conjunction,
    * so [[whereReadFromManifest]] serves both — including the Bloom
    * sidecar probe when the range is degenerate (lower == upper) on a
    * declared bloom column.
    */
  private def rangeReadFromManifest(spark: SparkSession, tableRoot: String,
                                    man: Manifest, column: String,
                                    lower: Option[Any],
                                    upper: Option[Any]): DataFrame =
    whereReadFromManifest(spark, tableRoot, man,
      Seq(ColumnRange(column, lower, upper)))

  /** Change feed between two retained committed versions (Delta's CDF /
    * `table_changes`, scaled to the manifest protocol): the keyed diff
    * of the two pinned snapshots — op ∈ insert/update/delete with
    * old_/new_ audit columns (the
    * [[graft.operators.Reconcile.snapshotDiff]] contract). Epoch files
    * are immutable and retained manifests' epochs survive gc, so both
    * sides are stable snapshots even while newer merges commit; asking
    * for an aged-out version fails loudly via [[readTableVersion]].
    * One full-outer join on `keys` — change-volume output, never
    * corpus-sized, which is what an incremental downstream consumer
    * of a 100 TB table actually wants to read.
    */
  def changeFeed(spark: SparkSession, tablePath: String,
                 fromVersion: Long, toVersion: Long,
                 keys: Seq[String], compareCols: Seq[String]): DataFrame = {
    val fs = fsFor(spark, tablePath)
    val retained = manifestFiles(fs, new Path(tablePath))
    def manOf(v: Long): Manifest = retained.find(_._1 == v)
      .map(h => readManifest(fs, v, h._2))
      .getOrElse(throw new IllegalArgumentException(
        s"changeFeed: version $v not retained for $tablePath " +
          s"(readable: ${retained.map(_._1).mkString(", ")})"))
    val mFrom = manOf(fromVersion)
    val mTo = manOf(toVersion)
    diffManifests(spark, tablePath, mFrom, mTo, keys, compareCols)
  }

  /** The manifest-pair diff core shared by [[changeFeed]] and
    * [[changeFeedGroup]]: bucket pruning (only buckets whose epoch
    * pointer moved are read on either side), fingerprint file pairing
    * inside changed buckets, and the keyed snapshot diff. A modulus
    * change (split) or a side without a recorded schema degrades to
    * the full two-sided diff — still exact.
    */
  private def diffManifests(spark: SparkSession, dataPath: String,
                            mFrom: Manifest, mTo: Manifest,
                            keys: Seq[String],
                            compareCols: Seq[String]): DataFrame = {
    // BUCKET PRUNING: a bucket whose epoch pointer did not move between
    // the two versions serves bit-identical files on both sides — it
    // cannot produce a change row, so the diff join reads ONLY the
    // changed buckets. Feed I/O ∝ changed data, not table size — the
    // incremental-consumer contract at 100 TB (Delta's CDF reads
    // recorded change files for the same reason). A bucket-modulus
    // change (split) moves every pointer, which correctly degrades to
    // the full diff; a side without a recorded schema can't build a
    // typed empty frame, so it reads fully (rare legacy case, still
    // exact).
    val sameModulus = mFrom.buckets == mTo.buckets
    val bothSchemas = mFrom.schema.isDefined && mTo.schema.isDefined
    val (oldDf, newDf) =
      if (sameModulus && bothSchemas) {
        // "changed" compares the full bucket SIGNATURE (epoch pointer +
        // deletion-vector identity): a DV delete changes a bucket's
        // logical rows without moving its pointer, and skipping it would
        // silently drop the feed's delete rows
        val changed = (mFrom.epochs.keySet ++ mTo.epochs.keySet)
          .filter(b => bucketSig(mFrom, b) != bucketSig(mTo, b))
        // FILE granularity inside a changed bucket (fingerprint tables):
        // a merge rewrites the whole bucket, but the rewrite reproduces
        // every file whose row prefix was untouched — pair old/new files
        // by content fingerprint (multiset row identity, schema-signed)
        // and drop matched pairs from BOTH sides. Sound because a key
        // lives in exactly one row per snapshot and keeps its bucket:
        // a matched pair's keys carry identical rows on both sides, so
        // they cannot contribute a change row, and their key sets are
        // disjoint from the remaining files'. A one-key merge into a
        // 100-file bucket then diffs ~the one repacked tail file, not
        // the bucket.
        def pairedDrop(b: Int): (Set[String], Set[String]) = {
          (mFrom.stats.get(b), mTo.stats.get(b)) match {
            case (Some(of), Some(nf)) =>
              // pairing identity = content fingerprint PLUS deletion-
              // vector reference PLUS the file's applicable equality-
              // delete set: a file whose physical bytes match but whose
              // DV or eq-delete scope moved between the versions holds
              // DIFFERENT live rows on the two sides and must diff,
              // while an untouched file (same fp, same dv, same
              // eq-deletes) still pairs and skips
              def pairKey(m: Manifest)(f: FileStat): String =
                f.fp + "|" + f.dv + "|" +
                  applicableEqds(m, b, fileEpoch(m, b, f)).mkString(",")
              val oldByFp = of.filter(_.fp.nonEmpty).groupBy(pairKey(mFrom))
              val newByFp = nf.filter(_.fp.nonEmpty).groupBy(pairKey(mTo))
              val dropsO = Set.newBuilder[String]
              val dropsN = Set.newBuilder[String]
              // identity = epoch attribution + name: overlay files can
              // reuse part-file names across epoch dirs within a bucket
              oldByFp.foreach { case (fp, ofs) =>
                newByFp.get(fp).foreach { nfs =>
                  val k = math.min(ofs.size, nfs.size)
                  dropsO ++= ofs.take(k).map(f => f.e + "/" + f.name)
                  dropsN ++= nfs.take(k).map(f => f.e + "/" + f.name)
                }
              }
              (dropsO.result(), dropsN.result())
            case _ => (Set.empty, Set.empty)
          }
        }
        val drops: Map[Int, (Set[String], Set[String])] =
          if (mFrom.fingerprint && mTo.fingerprint)
            changed.toSeq.map(b => b -> pairedDrop(b)).toMap
          else Map.empty
        def side(m: Manifest, dropOf: Int => Set[String]): DataFrame = {
          val paths = m.epochs.keys.toSeq.filter(changed).sorted
            .flatMap { b =>
              val dropped = dropOf(b)
              m.stats.get(b) match {
                case Some(fss) if dropped.nonEmpty =>
                  fss.filterNot(f => dropped(f.e + "/" + f.name))
                    .map(f => fileReadPath(dataPath, m, b, f))
                case _ => bucketDirPaths(dataPath, m, b)
              }
            }
          if (paths.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              DataType.fromJson(m.schema.get).asInstanceOf[StructType])
          else readWithSchema(spark, m, dataPath, paths)
        }
        (side(mFrom, b => drops.get(b).map(_._1).getOrElse(Set.empty)),
          side(mTo, b => drops.get(b).map(_._2).getOrElse(Set.empty)))
      } else {
        // modulus/schema mismatch: full two-sided diff straight from
        // the manifests (no path-level version resolution needed)
        def full(m: Manifest): DataFrame = {
          val paths = allDirPaths(dataPath, m)
          if (paths.isEmpty) m.schema match {
            case Some(sch) => spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              DataType.fromJson(sch).asInstanceOf[StructType])
            case None => spark.emptyDataFrame
          } else readWithSchema(spark, m, dataPath, paths)
        }
        (full(mFrom), full(mTo))
      }
    // a feed that spans a RENAME serves every version under the CURRENT
    // column names (Delta CDF's column-mapping behavior): both sides
    // align to the current manifest by shared field id, so `keys` /
    // `compareCols` — callers pass current names — resolve on both
    // frames; columns since dropped vanish from the feed. Identity for
    // name-world tables.
    val cur = currentManifest(fsFor(spark, dataPath), new Path(dataPath))
      .getOrElse(mTo)
    val oldAligned = stripFrame(alignToIds(oldDf, mFrom, cur))
    val newAligned = stripFrame(alignToIds(newDf, mTo, cur))
    // CONFORM both sides to the CURRENT schema (names already aligned by
    // field id above): a version that PREDATES a column addition
    // null-pads it, and a version that predates a type widening casts up
    // to the wide type (exact — widening is the only recorded type
    // change, by canWiden's rule). Without this, a feed window confined
    // to old versions either fails resolution on an added column or
    // serves narrow-typed rows under the wide schema the metadata table
    // / CDC stream declared from the current manifest.
    def conform(df: DataFrame): DataFrame = cur.schema match {
      case Some(sj) =>
        val cs = stripSchemaIds(DataType.fromJson(sj).asInstanceOf[StructType])
        val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
        if (cs.length == df.schema.length &&
            cs.fields.forall(f => have.get(f.name).contains(f.dataType))) df
        else df.select(cs.fields.toIndexedSeq.map { f =>
          have.get(f.name) match {
            case Some(t) if t == f.dataType => col(f.name)
            case Some(_) => col(f.name).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*)
      case None => df
    }
    val oldC = conform(oldAligned)
    val newC = conform(newAligned)
    // legacy fallback (no recorded current schema): align the old side's
    // types to the new side's — the wide side of a widening
    def castTo(df: DataFrame, target: DataFrame): DataFrame = {
      val want = target.schema.fields.map(x => x.name -> x.dataType).toMap
      if (df.schema.fields.forall(x => want.get(x.name).forall(_ == x.dataType)))
        df
      else df.select(df.schema.fields.map { x =>
        want.get(x.name).filter(_ != x.dataType)
          .fold(col(x.name))(t => col(x.name).cast(t).as(x.name))
      }.toIndexedSeq: _*)
    }
    graft.operators.Reconcile.snapshotDiff(castTo(oldC, newC),
      newC, keys, compareCols)
  }

  /** Test hook: replay the commit path of a table-creation race LOSER —
    * a writer that observed "no manifest", wrote its epoch under its own
    * `buckets` modulus, and only then discovers the winner's manifest in
    * the commit CAS. Drives the bucket-count conflict check
    * deterministically (the live race needs an interleaving no test can
    * force).
    */
  private[graft] def commitAsCreationLoser(spark: SparkSession,
                                           tablePath: String, rows: DataFrame,
                                           keys: Seq[String],
                                           buckets: Int): Unit =
    writeEpochAndCommit(spark, fsFor(spark, tablePath), tablePath, rows, keys,
      buckets, prev = None)

  /** Test/inspection hook: the latest committed bucket→epoch mapping. */
  private[graft] def currentEpochs(spark: SparkSession,
                                   tablePath: String): Map[Int, String] = {
    val fs = fsFor(spark, tablePath)
    currentManifest(fs, new Path(tablePath)).map(_.epochs).getOrElse(Map.empty)
  }

  /** Apply a [[changeFeed]] to a REPLICA table: upsert the feed's
    * inserts/updates (their `new_*` images) and delete its deletes —
    * the incremental-consumer loop of a 100 TB table (sync a replica,
    * feed a downstream index) reading change volume, never the corpus.
    * Applying the same feed twice is idempotent (keyed merge + keyed
    * delete), so at-least-once driving loops are safe; `fromVersion`
    * must be the consumer's last-applied cursor and both versions must
    * still be retained (aged-out cursors fail loudly via
    * [[readTableVersion]] instead of silently skipping changes — the
    * consumer then re-seeds from a full [[readTable]] snapshot).
    */
  def applyChangeFeed(spark: SparkSession, sourcePath: String,
                      replicaPath: String, fromVersion: Long,
                      toVersion: Long, keys: Seq[String],
                      compareCols: Seq[String], buckets: Int = 64): Unit = {
    val feed = changeFeed(spark, sourcePath, fromVersion, toVersion, keys,
      compareCols).persist()
    try {
      val upserts = feed.filter(col("op").isin("insert", "update"))
        .select(keys.map(col) ++
          compareCols.map(c => col(s"new_$c").as(c)): _*)
      merge(spark, replicaPath, upserts, keys, buckets)
      val deletes = feed.filter(col("op") === "delete")
        .select(keys.map(col): _*)
      delete(spark, replicaPath, deletes, keys)
    } finally { feed.unpersist(); () }
  }

  /** The complete incremental-consumer loop over [[applyChangeFeed]],
    * with a crash-safe persisted cursor: first call seeds the replica
    * from the source's latest pinned snapshot; every later call applies
    * each retained source version past the cursor, advancing the cursor
    * file after each step. The cursor is written AFTER the apply, so a
    * crash between them redelivers one feed — harmless, because feed
    * application is idempotent (keyed merge + keyed delete): the loop
    * is exactly-once in EFFECT under at-least-once execution. Liveness
    * contract: the consumer must sync within the source's retained
    * window ([[KeepManifests]] versions — under the default 2, at least
    * once per source commit; Delta's CDF has the same retention-bound
    * contract). A cursor that has aged out fails loudly (via
    * [[readTableVersion]]) instead of silently skipping changes —
    * re-seed by deleting the cursor file. Returns the new cursor.
    */
  def syncReplica(spark: SparkSession, sourcePath: String,
                  replicaPath: String, keys: Seq[String],
                  compareCols: Seq[String], buckets: Int = 64): Long = {
    val fs = fsFor(spark, replicaPath)
    val dir = new Path(replicaPath)
    val cursorFile = new Path(dir, "_sync-cursor")
    def readCursor(): Option[Long] =
      if (!fs.exists(cursorFile)) None
      else {
        val in = fs.open(cursorFile)
        val bytes =
          try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
        scala.util.Try(new String(bytes, StandardCharsets.UTF_8)
          .trim.toLong).toOption
      }
    def writeCursor(v: Long): Unit = {
      // overwrite-in-place is fine: the cursor is advisory progress
      // state, and a torn write surfaces as an unparsable cursor that
      // fails the next sync loudly rather than skipping versions
      val out = fs.create(cursorFile, true)
      try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    val sourceVersions = availableVersions(spark, sourcePath)
    require(sourceVersions.nonEmpty,
      s"syncReplica: source $sourcePath has no committed versions")
    val start = readCursor() match {
      case Some(c) => c
      case None =>
        if (fs.exists(cursorFile))
          throw new IllegalStateException(
            s"syncReplica: unparsable cursor at $cursorFile — delete it " +
              "to re-seed the replica from a full snapshot")
        // seed: full pinned snapshot of the latest source version
        val seed = sourceVersions.last
        merge(spark, replicaPath, readTableVersion(spark, sourcePath, seed),
          keys, buckets)
        writeCursor(seed)
        seed
    }
    val end = sourceVersions.filter(_ > start).foldLeft(start) { (c, v) =>
      applyChangeFeed(spark, sourcePath, replicaPath, c, v, keys,
        compareCols, buckets)
      writeCursor(v)
      v
    }
    end
  }

  /** L1/L3 — the custom-field load's transactional shape
    * (`state_load_processor_aurora.ts:39-113`): per incoming item, delete
    * ALL existing custom-field rows and insert the new set, deduped inline
    * on (workItemId, name, value). Replacing by item key is exactly a MERGE
    * keyed on the item id where every incoming row of that item survives —
    * stale fields of reloaded items disappear, untouched items keep theirs.
    */
  def loadCustomFields(spark: SparkSession, tablePath: String,
                       incoming: DataFrame): Unit =
    merge(spark, tablePath,
      incoming.dropDuplicates("workItemId", "name", "value"), Seq("workItemId"))

  /** A10: rebuild membership per context and overwrite only the touched
    * partitions (dynamic partition overwrite ≡ the reference's
    * upsert + anti-delete in one transaction).
    */
  def overwritePartitions(tablePath: String, incoming: DataFrame,
                          partitionCol: String): Unit =
    incoming.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(tablePath)
}

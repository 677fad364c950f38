package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

import graft.ops.{Manifest, ManifestEntry}

/** Catalyst-integrated DATA SKIPPING for [[graft.ops.Manifest]] tables.
  *
  * [[Manifest.readRange]] / [[Manifest.readPoint]] prune files only when
  * the caller routes the predicate through those explicit APIs. This
  * [[FileIndex]] moves the pruning INTO THE PLANNER: the snapshot's file
  * list and per-file stats become the listing Spark's own
  * `FileSourceStrategy` consults, so ANY `WHERE` clause over
  * [[ManifestScan.scan]]'s DataFrame — including one Catalyst derived by
  * pushing a join predicate or folding a constant — skips files whose
  * recorded stats cannot match, with zero API cooperation from the
  * query author. Everything downstream is Spark's stock parquet path:
  * whole-stage codegen, parquet row-group pushdown (`PushedFilters`),
  * column pruning (`ReadSchema`), AQE.
  *
  * At 100 TB this is the difference between "the engine CAN skip" and
  * "the engine DOES skip": a 1000-executor query with a date range in
  * its WHERE clause opens `O(matching files)` of an ~8×10⁵-file table
  * during PLANNING, before a single task launches. The same shape as
  * Delta's `TahoeFileIndex` / Iceberg's scan planning.
  *
  * Pruning sources, all sound over-approximations (a kept file may
  * contain no match; a dropped file provably cannot):
  *  - partition-value SETS (exact distinct values per file, unless
  *    `overflow`): equality / IN / range / null-ness on `partitionCol`;
  *  - per-file MIN/MAX for the sentinel's `stat_cols`: range and
  *    equality, compared with the same type-aware rendered ordering as
  *    [[Manifest.readRange]];
  *  - all-null detection: a null min/max slot means the column has no
  *    non-null row in that file, so the `IsNotNull` guard Catalyst
  *    attaches to every null-intolerant predicate prunes it.
  *
  * The index is FROZEN at one snapshot version (snapshot isolation —
  * concurrent commits never shift a running query's file list);
  * `refresh()` is deliberately a no-op. Deletion-vector masking is
  * layered ON TOP by [[ManifestScan.scan]], not here: the index decides
  * which files to open, the mask decides which rows of them survive.
  *
  * THREE planning venues share ONE predicate compiler ([[ManifestPruning]]):
  *  - this driver-resident index collects every entry once and runs the
  *    compiled closures in a tight loop — lowest latency, driver heap
  *    O(entries) (measured 421 MB / 3.1 s load at 10⁶ entries);
  *  - [[DistributedManifestFileIndex]] ships the SAME closures into a
  *    `Dataset[ManifestEntry].filter` and collects only the surviving
  *    paths — driver heap O(kept files), the venue for manifests past
  *    ~10⁶ entries where the full collect stops fitting;
  *  - the same index upgrades itself to the CHECKPOINT venue when a
  *    planning checkpoint exists for its exact version
  *    ([[graft.ops.Manifest.checkpoint]]): listings become pushed-down
  *    parquet reads over flattened native-typed bounds (a coarse,
  *    provably over-approximating cut — [[ManifestPruning.coarse]]),
  *    with the exact closures re-deciding over the survivors. Measured
  *    3.85 s → 1.70 s per pruned listing at 10⁷ entries (BASELINE.md).
  * All venues run byte-identical exact predicate code, so they cannot
  * diverge on a kept set (spec-pinned in ManifestPlanScaleSpec).
  */
class ManifestFileIndex(spark: SparkSession, dir: String,
                        partitionCol: Option[String] = None,
                        version: Option[Long] = None) extends FileIndex {

  /** The manifest root this index reads — the SQL DML layer compares
    * it against its registry to detect a rebound temp view. */
  private[graft] def tableDir: String = dir

  private[graft] val snap = Manifest.loadSnapshot(spark, dir, version)

  val dataSchema: StructType =
    DataType.fromDDL(snap.ddl).asInstanceOf[StructType]

  private val pruning = new ManifestPruning(dataSchema, snap.statsCols,
    partitionCol.map(Manifest.resolvePhysical(snap.colMap, _)),
    spark.sessionState.conf.sessionLocalTimeZone)

  private val root = new Path(dir)
  private val fs =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val qualifiedRoot = fs.makeQualified(root)

  /** Shallow-clone batch-dir map: external entries resolve to their
    * owning root (already qualified); empty for ordinary tables. */
  private val ext = Manifest.extRoots(spark, root)

  private def statusOf(e: ManifestEntry): FileStatus =
    new FileStatus(e.bytes, false, 1, 128L << 20, 0L,
      if (ext.isEmpty)
        fs.makeQualified(new Path(qualifiedRoot, e.path))
      else Manifest.resolveData(qualifiedRoot, ext, e.path))

  /** FileStatus per entry, built ONCE: the index is frozen at one
    * snapshot, and Path/URI construction is the dominant cost of a
    * full listing at ~10⁶ files (measured 5.0 s → amortized across
    * every listFiles call of the query, and of every later query over
    * the same scan DataFrame). */
  /** Entries materialized to an Array once: the prune loop below indexes
    * per entry, and a linked Seq from the snapshot load would make every
    * listing O(n²) at manifest scale. */
  private lazy val entriesArr: Array[ManifestEntry] = snap.entries.toArray

  private lazy val statuses: Array[FileStatus] = entriesArr.map(statusOf)

  override def rootPaths: Seq[Path] = Seq(qualifiedRoot)

  override def partitionSchema: StructType = new StructType()

  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toString)

  override def sizeInBytes: Long = snap.entries.map(_.bytes).sum

  /** Frozen snapshot by design — see class doc. */
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // COMPILE each predicate once (literal renderings, per-column
    // orderings, stat-slot lookups all hoisted), then run the closures
    // over the entries: at ~10⁶ files the interpreted per-entry walk
    // re-resolved all of that per entry — measured 2.6 s/predicate,
    // ~10× less compiled
    val preds = dataFilters.map(pruning.compile)
    val out = Array.newBuilder[FileStatus]
    val ss = statuses // force the lazy val (also builds entriesArr)
    var i = 0
    val es = entriesArr
    while (i < es.length) {
      val e = es(i)
      if (preds.forall(p => p(e))) out += ss(i)
      i += 1
    }
    Seq(PartitionDirectory(InternalRow.empty, out.result()))
  }

  /** Files the index would open under `filters` — the spec hook (and a
    * cheap dry-run "EXPLAIN files" for operators sizing a rewrite). */
  private[graft] def candidateCount(filters: Seq[Expression]): Int =
    listFiles(Nil, filters).head.files.size
}

/** Planner data skipping WITHOUT the driver-resident entry list: the
  * manifest stays a distributed relation, each `listFiles` ships the
  * compiled predicates into a `Dataset[ManifestEntry].filter`, and
  * only the surviving `(path, bytes)` pairs come back — driver heap
  * O(kept files), never O(entries). This is the planning venue for
  * manifests past the driver-collect budget (~10⁶ entries ≈ 420 MB
  * retained; a 10⁷-entry small-file table or the next data decade
  * blows it), the same move as Delta planning over its checkpoint
  * parquet with a Spark job.
  *
  * The price is one distributed pass over the manifest relation per
  * listing (seconds at 10⁷ rows) instead of a driver loop
  * (milliseconds after a multi-second, multi-hundred-MB load) — the
  * right trade exactly when the load stops fitting.
  * [[ManifestScan.scan]] picks the venue by on-disk manifest size
  * (`graft.manifest.planning.distributedMinBytes`). */
class DistributedManifestFileIndex(spark: SparkSession, dir: String,
                                   partitionCol: Option[String] = None,
                                   version: Option[Long] = None)
  extends FileIndex {

  /** See [[ManifestFileIndex.tableDir]]. */
  private[graft] def tableDir: String = dir

  private[graft] val meta = Manifest.snapshotMeta(spark, dir, version)

  val dataSchema: StructType =
    DataType.fromDDL(meta.ddl).asInstanceOf[StructType]

  private val pruning = new ManifestPruning(dataSchema, meta.statsCols,
    partitionCol.map(Manifest.resolvePhysical(meta.colMap, _)),
    spark.sessionState.conf.sessionLocalTimeZone)

  private val root = new Path(dir)
  private val fs =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val qualifiedRoot = fs.makeQualified(root)

  private def entries = Manifest.entriesDataset(spark, meta)

  /** The planning checkpoint this snapshot version plans from, when
    * one exists: EXACTLY this version's when present (one marker
    * probe), else the newest complete checkpoint at an earlier version
    * PLUS the verified (ckV, v] delta-sidecar chain folded into one
    * net correction ([[Manifest.tailReplay]]) — the Delta/Iceberg
    * checkpoint-plus-log shape, so the ~15/16 of listings that land
    * between interval checkpoints still run as pushed-down parquet
    * reads over flattened bound columns instead of full typed scans of
    * the manifest. The coarse cut happens inside the parquet scan
    * (row-group skipping + pre-deserialization filter); only survivors
    * pay entry deserialization and the exact closures; the replay
    * correction (drop superseded paths, union the tail's adds through
    * the same exact closures) is O(changes in the tail), driver-side.
    * Absent or unverifiable (pre-checkpoint table, time-travel past
    * retention, a compaction in the tail that skipped its oversized
    * sidecar), everything below falls back to the manifest relation —
    * same kept set every way (spec-pinned). */
  private val resolved
      : (Option[Manifest.CheckpointInfo], Option[Manifest.TailReplay]) =
    Manifest.checkpointFor(spark, dir, meta.version) match {
      case some @ Some(_) => (some, None)
      case None =>
        Manifest.checkpointAtOrBefore(spark, dir, meta.version) match {
          case Some((ci, ckV)) if ckV < meta.version =>
            Manifest.tailReplay(spark, dir, ckV, meta.version) match {
              case some @ Some(_) => (Some(ci), some)
              case None => (None, None)
            }
          case _ => (None, None)
        }
    }
  private val ckpt: Option[Manifest.CheckpointInfo] = resolved._1
  private val ckptTail: Option[Manifest.TailReplay] = resolved._2
  private[graft] def usesCheckpoint: Boolean = ckpt.isDefined
  private[graft] def usesTailReplay: Boolean = ckptTail.isDefined
  private lazy val ckDf: Option[DataFrame] =
    ckpt.map(ci => org.apache.spark.sql.GraftParquetBridge
      .localInferSchema(spark, ci.dir)
      .map(sc => spark.read.schema(sc).parquet(ci.dir))
      .getOrElse(spark.read.parquet(ci.dir)))
  private lazy val ckCols: Set[String] =
    ckDf.map(_.columns.toSet).getOrElse(Set.empty)

  override def rootPaths: Seq[Path] = Seq(qualifiedRoot)

  override def partitionSchema: StructType = new StructType()

  /** Shallow-clone batch-dir map, as in [[ManifestFileIndex]]. */
  private val ext = Manifest.extRoots(spark, root)

  private def resolve(p: String): Path =
    if (ext.isEmpty) fs.makeQualified(new Path(qualifiedRoot, p))
    else Manifest.resolveData(qualifiedRoot, ext, p)

  /** O(live files) driver memory by contract of the FileIndex API —
    * callers of inputFiles (DESCRIBE-style introspection) accept the
    * listing cost; planning itself never calls it. */
  override def inputFiles: Array[String] = {
    import spark.implicits._
    entries.select("path").as[String].collect()
      .map(p => resolve(p).toString)
  }

  /** One distributed agg, computed lazily and kept (Catalyst asks for
    * relation sizing repeatedly during join planning). */
  override lazy val sizeInBytes: Long = {
    import spark.implicits._
    entries.agg(org.apache.spark.sql.functions.sum("bytes"))
      .as[Option[Long]].head().getOrElse(0L)
  }

  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    import spark.implicits._
    val preds = dataFilters.map(pruning.compile)
    // exact distributed scan of this version's own manifest — the
    // venue of record; also the runtime fallback when the checkpoint
    // directory vanishes between construction and scan (retention
    // keeps two: a long-lived index or cached plan can outlive its
    // base ~32 commits later, and a FileNotFoundException here must
    // degrade to the manifest, not fail the query)
    def manifestKept(): Array[(String, Long)] =
      entries
        .filter(e => preds.forall(p => p(e)))
        .select($"path", $"bytes").as[(String, Long)]
        .collect()
    def isFnf(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[java.io.FileNotFoundException] ||
        isFnf(t.getCause))
    val kept = ckDf match {
      case Some(ck) =>
        try {
          // checkpoint venue: coarse bounds push into the parquet scan,
          // exact closures re-decide over the (few) survivors; a tail
          // replay additionally drops the paths the (ckV, v] delta
          // chain superseded and unions its adds through the SAME
          // exact closures — identical kept set to the venue of record
          val pre = dataFilters
            .map(e => pruning.coarse(e, ckpt.get.partCol, ckCols))
            .foldLeft(ck)((d, c) => d.filter(c))
          val entryCols = org.apache.spark.sql.Encoders
            .product[ManifestEntry].schema.fieldNames
          val drop = ckptTail.map(_.dropFromCk).getOrElse(Set.empty)
          val fromCk = pre
            .select(entryCols.map(org.apache.spark.sql.functions.col)
              .toIndexedSeq: _*)
            .as[ManifestEntry]
            .filter(e => !drop.contains(e.path) && preds.forall(p => p(e)))
            .map(e => (e.path, e.bytes)).collect()
          val fromTail = ckptTail.toSeq.flatMap(_.adds)
            .filter(e => preds.forall(p => p(e)))
            .map(e => (e.path, e.bytes))
          fromCk ++ fromTail
        } catch {
          case t: Throwable if isFnf(t) =>
            System.err.println(s"[graft] planning checkpoint for $dir " +
              s"vanished mid-scan (retention); falling back to the " +
              s"manifest venue: $t")
            manifestKept()
        }
      case None => manifestKept()
    }
    val files = kept.map { case (p, bytes) =>
      new FileStatus(bytes, false, 1, 128L << 20, 0L, resolve(p))
    }
    Seq(PartitionDirectory(InternalRow.empty, files))
  }

  private[graft] def candidateCount(filters: Seq[Expression]): Int =
    listFiles(Nil, filters).head.files.size
}

/** The ONE entry-level predicate compiler behind both planning venues:
  * one Catalyst predicate expression → one `ManifestEntry => Boolean`
  * closure, with every name/literal/ordering resolution hoisted to
  * compile time. Serializable (and free of references to any entry
  * list) so the compiled closures can run inside a `Dataset.filter` on
  * executors exactly as they run in the driver's entry loop. */
private[plans] class ManifestPruning(dataSchema: StructType,
                                     statsCols: Seq[String],
                                     partitionCol: Option[String],
                                     sessionTimeZone: String)
  extends Serializable {

  private val timeZone = Some(sessionTimeZone)

  /** The literal under the SAME rendering the stats were written with
    * (`Column.cast("string")`; TIMESTAMPS as zone-free epoch micros —
    * their Catalyst literal value IS micros, so no cast and no
    * session-timezone dependence), so writer and planner can never
    * disagree; null literal renders to None. */
  private def rendered(value: Any, dt: DataType): Option[String] =
    dt match {
      case TimestampType => Option(value).map(_.toString)
      case _ =>
        Option(Cast(Literal(value, dt), StringType, timeZone).eval(null))
          .map(_.toString)
    }

  private def isPartitionCol(name: String): Boolean =
    partitionCol.exists(_.equalsIgnoreCase(name)) &&
      // value-SET pruning compares session-timezone string renderings,
      // unsound for TimestampType across sessions — such a column falls
      // through to its (zone-free) min/max stats, if configured
      !dataSchema.fields.exists(f =>
        f.name.equalsIgnoreCase(name) && f.dataType == TimestampType)

  private def orderingFor(name: String): Option[(String, String) => Int] =
    dataSchema.fields.find(_.name.equalsIgnoreCase(name))
      .flatMap(f => Manifest.renderedOrdering(f.dataType))

  private type Pred = ManifestEntry => Boolean
  private val KeepAll: Pred = _ => true

  /** Range intersection COMPILED once per predicate: the per-column
    * ordering, partition-col decision, stat-slot index, and bound
    * strings are resolved here, and only the per-entry work (a couple
    * of comparisons) runs inside the entry loop. Checks the exact
    * partition-value set first (no overflow = every distinct value is
    * recorded), then the min/max stat slot. At ~10⁶ entries the
    * per-entry re-resolution this replaces cost 2.6 s per predicate
    * (tools/ManifestPlanBench). */
  private def rangePred(name: String,
                        lo: Option[String], loStrict: Boolean,
                        hi: Option[String], hiStrict: Boolean): Pred = {
    val cmpOpt = orderingFor(name)
    if (cmpOpt.isEmpty) return KeepAll // no safe ordering: never prune
    val cmp = cmpOpt.get
    val isPart = isPartitionCol(name)
    val slot = statsCols.indexWhere(_.equalsIgnoreCase(name))
    val nStats = statsCols.length
    def valueOk(v: String): Boolean =
      lo.forall(l => if (loStrict) cmp(v, l) > 0 else cmp(v, l) >= 0) &&
        hi.forall(h => if (hiStrict) cmp(v, h) < 0 else cmp(v, h) <= 0)
    e => try {
      if (isPart && !e.overflow)
        e.values.exists(valueOk) // exact: range matches no null row
      // ragged-slot guard: a wrong-length manifest fails open
      else if (slot >= 0 && e.stat_mins.length == nStats &&
        e.stat_maxs.length == nStats) {
        val mn = e.stat_mins(slot); val mx = e.stat_maxs(slot)
        if (mn == null || mx == null) false // all-null column
        else
          lo.forall(l => if (loStrict) cmp(mx, l) > 0 else cmp(mx, l) >= 0) &&
            hi.forall(h => if (hiStrict) cmp(mn, h) < 0 else cmp(mn, h) <= 0)
      } else true
    } catch {
      // a stored stat that does not parse in the current rendering
      // (e.g. pre-epoch-micros timestamp manifests hold wall-clock
      // strings) cannot order -- fail open, keep the file
      case _: NumberFormatException => true
    }
  }

  private def eqPred(name: String, value: Any, dt: DataType): Pred =
    rendered(value, dt) match {
      case None => _ => false // `c = NULL` matches nothing
      case Some(v) =>
        val isPart = isPartitionCol(name)
        val range = rangePred(name, Some(v), loStrict = false,
          Some(v), hiStrict = false)
        e => if (isPart && !e.overflow) e.values.contains(v) else range(e)
    }

  private def isNullPred(name: String): Pred =
    if (isPartitionCol(name)) e => e.overflow || e.has_null
    else KeepAll // min/max can't witness absence of nulls

  private def notNullPred(name: String): Pred =
    if (isPartitionCol(name)) e => e.overflow || e.values.nonEmpty
    else {
      val slot = statsCols.indexWhere(_.equalsIgnoreCase(name))
      val nStats = statsCols.length
      e =>
        if (slot >= 0 && e.stat_mins.length == nStats)
          e.stat_mins(slot) != null // null slot = all-null file
        else true
    }

  /** COARSE, parquet-pushable over-approximation of [[compile]] over a
    * planning checkpoint's flattened bound columns (__g_pmin/__g_pmax,
    * __g_smin_i/__g_smax_i — [[graft.ops.Manifest.checkpoint]]). Sound
    * by construction: every file the exact closure keeps, this keeps —
    * unknown shapes, unknown columns, null/unparseable bounds all
    * resolve to TRUE — so it may only CUT the rows the checkpoint scan
    * deserializes (and, pushed into parquet, the row groups it reads);
    * the exact closures re-run over the survivors and alone decide the
    * kept set. `ckPartCol` = the column the checkpoint's partition
    * bounds describe; `ckCols` = the flattened columns that exist. */
  private[plans] def coarse(cond: Expression, ckPartCol: Option[String],
                            ckCols: Set[String])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col => c, lit => l}
    import graft.ops.Manifest.{CkPmin, CkPmax, CkStatsOk, ckSmin, ckSmax, ckSnull}
    val True = l(true)
    def fieldType(name: String): Option[DataType] =
      dataSchema.fields.find(_.name.equalsIgnoreCase(name)).map(_.dataType)
    def isCkPart(name: String): Boolean =
      ckPartCol.exists(_.equalsIgnoreCase(name)) && isPartitionCol(name) &&
        ckCols.contains(CkPmin) && ckCols.contains(CkPmax)
    // a literal as a Column in the NATIVE flattened type; TimestampType
    // stat slots are stored as epoch-micros longs
    def asLit(v: Any, dt: DataType): Option[Column] = dt match {
      case TimestampType => rendered(v, dt).map(s => l(s.toLong))
      case _ => Option(v).map(x => l(
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(x, dt)))
    }
    def partRange(lo: Option[Column], loStrict: Boolean,
                  hi: Option[Column], hiStrict: Boolean): Column = {
      val loOk = lo.map(b => if (loStrict) c(CkPmax) > b else c(CkPmax) >= b)
        .getOrElse(True)
      val hiOk = hi.map(b => if (hiStrict) c(CkPmin) < b else c(CkPmin) <= b)
        .getOrElse(True)
      c("overflow") || c(CkPmin).isNull || c(CkPmax).isNull || (loOk && hiOk)
    }
    def statRange(i: Int, lo: Option[Column], loStrict: Boolean,
                  hi: Option[Column], hiStrict: Boolean): Column = {
      val smin = c(ckSmin(i)); val smax = c(ckSmax(i))
      val loOk = lo.map(b => if (loStrict) smax > b else smax >= b)
        .getOrElse(True)
      val hiOk = hi.map(b => if (hiStrict) smin < b else smin <= b)
        .getOrElse(True)
      // raw-null slot = all-null column: droppable for a value range,
      // exactly as the exact closure drops it; a failed CAST (null
      // smin under a non-null slot) is unknown: keep
      !c(CkStatsOk) ||
        (!c(ckSnull(i)) && (smin.isNull || smax.isNull || (loOk && hiOk)))
    }
    def rangeFor(v: Any, dt: DataType,
                 side: (Option[Column], Boolean, Option[Column], Boolean)
                   => Column, lo: Boolean, strict: Boolean): Column =
      asLit(v, dt) match {
        case None => True
        case Some(b) =>
          if (lo) side(Some(b), strict, None, false)
          else side(None, false, Some(b), strict)
      }
    def boundSite(name: String): Option[
        (Option[Column], Boolean, Option[Column], Boolean) => Column] = {
      val slot = statsCols.indexWhere(_.equalsIgnoreCase(name))
      if (isCkPart(name) && fieldType(name).isDefined)
        Some(partRange)
      else if (slot >= 0 && ckCols.contains(ckSmin(slot)))
        Some(statRange(slot, _, _, _, _))
      else None
    }
    def eq(name: String, v: Any, dt: DataType): Column =
      if (v == null) l(false) // `c = NULL` matches nothing
      else boundSite(name) match {
        case None => True
        case Some(site) => asLit(v, dt)
          .map(b => site(Some(b), false, Some(b), false)).getOrElse(True)
      }
    def nullPred(name: String): Column =
      if (ckPartCol.exists(_.equalsIgnoreCase(name)) && isPartitionCol(name))
        c("overflow") || c("has_null")
      else True
    cond match {
      case And(lh, rh) => coarse(lh, ckPartCol, ckCols) &&
        coarse(rh, ckPartCol, ckCols)
      case Or(lh, rh) => coarse(lh, ckPartCol, ckCols) ||
        coarse(rh, ckPartCol, ckCols)
      case EqualTo(a: AttributeReference, Literal(v, dt)) => eq(a.name, v, dt)
      case EqualTo(Literal(v, dt), a: AttributeReference) => eq(a.name, v, dt)
      case EqualNullSafe(a: AttributeReference, Literal(v, dt)) =>
        if (v == null) nullPred(a.name) else eq(a.name, v, dt)
      case EqualNullSafe(Literal(v, dt), a: AttributeReference) =>
        if (v == null) nullPred(a.name) else eq(a.name, v, dt)
      case In(a: AttributeReference, vs)
        if vs.sizeIs <= 64 && vs.forall(_.isInstanceOf[Literal]) =>
        vs.map { case Literal(v, dt) => eq(a.name, v, dt) }
          .reduceOption(_ || _).getOrElse(True)
      case InSet(a: AttributeReference, vs) if vs.sizeIs <= 64 =>
        vs.toSeq.map(v => eq(a.name, v, a.dataType))
          .reduceOption(_ || _).getOrElse(True)
      case GreaterThan(a: AttributeReference, Literal(v, dt)) =>
        boundSite(a.name).map(rangeFor(v, dt, _, lo = true,
          strict = true)).getOrElse(True)
      case GreaterThan(Literal(v, dt), a: AttributeReference) =>
        boundSite(a.name).map(rangeFor(v, dt, _, lo = false,
          strict = true)).getOrElse(True)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        boundSite(a.name).map(rangeFor(v, dt, _, lo = true,
          strict = false)).getOrElse(True)
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        boundSite(a.name).map(rangeFor(v, dt, _, lo = false,
          strict = false)).getOrElse(True)
      case LessThan(a: AttributeReference, Literal(v, dt)) =>
        boundSite(a.name).map(rangeFor(v, dt, _, lo = false,
          strict = true)).getOrElse(True)
      case LessThan(Literal(v, dt), a: AttributeReference) =>
        boundSite(a.name).map(rangeFor(v, dt, _, lo = true,
          strict = true)).getOrElse(True)
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        boundSite(a.name).map(rangeFor(v, dt, _, lo = false,
          strict = false)).getOrElse(True)
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        boundSite(a.name).map(rangeFor(v, dt, _, lo = true,
          strict = false)).getOrElse(True)
      case IsNull(a: AttributeReference) => nullPred(a.name)
      case _ => True // unknown shape: the exact closures own it
    }
  }

  /** One predicate expression → one entry-level closure; every
    * name/literal/ordering resolution happens here, once. */
  private[plans] def compile(cond: Expression): Pred =
    cond match {
      case And(l, r) =>
        val a = compile(l); val b = compile(r); e => a(e) && b(e)
      case Or(l, r) =>
        val a = compile(l); val b = compile(r); e => a(e) || b(e)
      case EqualTo(a: AttributeReference, Literal(v, dt)) =>
        eqPred(a.name, v, dt)
      case EqualTo(Literal(v, dt), a: AttributeReference) =>
        eqPred(a.name, v, dt)
      case EqualNullSafe(a: AttributeReference, Literal(v, dt)) =>
        if (v == null) isNullPred(a.name) else eqPred(a.name, v, dt)
      case EqualNullSafe(Literal(v, dt), a: AttributeReference) =>
        if (v == null) isNullPred(a.name) else eqPred(a.name, v, dt)
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        val ps = vs.map { case Literal(v, dt) => eqPred(a.name, v, dt) }
        e => ps.exists(p => p(e))
      case InSet(a: AttributeReference, vs) =>
        val ps = vs.toSeq.map(v => eqPred(a.name, v, a.dataType))
        e => ps.exists(p => p(e))
      case GreaterThan(a: AttributeReference, Literal(v, dt)) =>
        rendered(v, dt).map(l => rangePred(a.name, Some(l),
          loStrict = true, None, hiStrict = false)).getOrElse(KeepAll)
      case GreaterThan(Literal(v, dt), a: AttributeReference) =>
        rendered(v, dt).map(h => rangePred(a.name, None,
          loStrict = false, Some(h), hiStrict = true)).getOrElse(KeepAll)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        rendered(v, dt).map(l => rangePred(a.name, Some(l),
          loStrict = false, None, hiStrict = false)).getOrElse(KeepAll)
      case GreaterThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        rendered(v, dt).map(h => rangePred(a.name, None,
          loStrict = false, Some(h), hiStrict = false)).getOrElse(KeepAll)
      case LessThan(a: AttributeReference, Literal(v, dt)) =>
        rendered(v, dt).map(h => rangePred(a.name, None,
          loStrict = false, Some(h), hiStrict = true)).getOrElse(KeepAll)
      case LessThan(Literal(v, dt), a: AttributeReference) =>
        rendered(v, dt).map(l => rangePred(a.name, Some(l),
          loStrict = true, None, hiStrict = false)).getOrElse(KeepAll)
      case LessThanOrEqual(a: AttributeReference, Literal(v, dt)) =>
        rendered(v, dt).map(h => rangePred(a.name, None,
          loStrict = false, Some(h), hiStrict = false)).getOrElse(KeepAll)
      case LessThanOrEqual(Literal(v, dt), a: AttributeReference) =>
        rendered(v, dt).map(l => rangePred(a.name, Some(l),
          loStrict = false, None, hiStrict = false)).getOrElse(KeepAll)
      case IsNull(a: AttributeReference) => isNullPred(a.name)
      case IsNotNull(a: AttributeReference) => notNullPred(a.name)
      case StartsWith(a: AttributeReference, Literal(v, StringType))
        if v != null =>
        // exact prefix range under UTF-16 code-UNIT ordering (the
        // String.compareTo the string stats use): p <= s < successor(p)
        // where successor increments p's last code unit below \uFFFF
        // (trailing \uFFFF units drop -- they admit no successor; an
        // all-\uFFFF prefix has no upper bound). Appending U+10FFFF
        // would be WRONG: it encodes as the surrogate pair DBFF DFFF,
        // which sorts BELOW the unpaired code units [E000, FFFF] under
        // compareTo -- a file holding only rows whose char after the
        // prefix lies in that range would be pruned, silently missing
        // rows.
        val p = v.toString
        val succ = {
          val trimmed = p.reverse.dropWhile(_ == '\uFFFF').reverse
          if (trimmed.isEmpty) None
          else Some(trimmed.init + (trimmed.last + 1).toChar)
        }
        rangePred(a.name, Some(p), loStrict = false, succ, hiStrict = true)
      case _ => KeepAll // unknown shape: fail open, never prune
    }
}

object ManifestScan {

  /** Manifest size (bytes on disk) above which [[scan]] plans through
    * [[DistributedManifestFileIndex]] instead of collecting every
    * entry to the driver. Slim entries run ~120 B on disk, so the
    * 128 MB default crosses around the ~10⁶-entry mark where the
    * driver collect's retained heap (421 MB measured) stops being
    * free. Override per session with
    * `graft.manifest.planning.distributedMinBytes` in the Hadoop conf
    * (set -1 to force distributed, Long.MaxValue to pin driver-side);
    * read in one place, [[graft.ops.Manifest.localReadBudget]], so every
    * metadata read picks its venue by the same budget. */
  val DistributedMinBytesKey = "graft.manifest.planning.distributedMinBytes"
  val DistributedMinBytesDefault: Long = 128L << 20

  /** Compile resolved, PHYSICAL-named predicate conjuncts into one
    * entry-level may-match closure — the SAME exact pruning code all
    * three planning venues run ([[ManifestPruning]]), exposed for
    * ops-layer planners ([[graft.ops.Manifest.deleteWhere]]) that
    * classify entries outside a FileIndex. Serializable, so it runs
    * inside a `Dataset` over the manifest relation on executors.
    * Sound over-approximation: `true` = the file MAY hold a matching
    * row; `false` = it provably cannot. */
  private[graft] def entryMayMatch(dataSchema: StructType,
                                   statsCols: Seq[String],
                                   partitionCol: Option[String],
                                   sessionTimeZone: String,
                                   conds: Seq[Expression])
      : ManifestEntry => Boolean = {
    val pruning = new ManifestPruning(dataSchema, statsCols,
      partitionCol, sessionTimeZone)
    val ps = conds.map(pruning.compile)
    e => ps.forall(p => p(e))
  }

  /** A manifest table as a planner-native DataFrame: file listing from
    * the committed snapshot (version `v`, default latest), data
    * skipping from the manifest's stats (see [[ManifestFileIndex]]),
    * scan/codegen from Spark's stock parquet format. `partitionCol`
    * additionally enables exact value-set pruning on that column.
    * Planning venue (driver-resident vs distributed) is chosen by the
    * manifest's on-disk size — see [[DistributedMinBytesKey]]. */
  def scan(spark: SparkSession, dir: String,
           partitionCol: Option[String] = None,
           version: Option[Long] = None): DataFrame = {
    val (relation, dvDirs, colMap) = planned(spark, dir, partitionCol,
      version)
    val df = spark.baseRelationToDataFrame(relation)
    // converted-Hive tables re-derive their directory-named partition
    // columns from each file's own path (no-op projection for every
    // other table — see Manifest.hiveInjected); DV masking stacks on
    // top, resolving `_metadata` through the injection projection
    val injected = Manifest.hiveInjected(spark, new Path(dir), df)
    // merge-on-read: snapshots with live deletion vectors get the
    // row-position anti-join on top; pruning still applies underneath
    val masked =
      if (dvDirs.isEmpty) injected
      else Manifest.maskedByDv(spark, dir, injected, dvDirs)
    // column-mapped tables surface their LOGICAL face as one aliasing
    // projection on top — Catalyst pushes WHERE predicates straight
    // through the aliases into the physical scan, so file skipping and
    // parquet pushdown are unaffected
    Manifest.toLogical(masked, colMap)
  }

  /** [[scan]]'s planning half, exposed for the `graft-manifest` batch
    * DataSource ([[graft.io.ManifestStreamProvider.createRelation]]):
    * the pruning-FileIndex-backed [[HadoopFsRelation]] plus the
    * snapshot's live deletion-vector dirs and column map. A caller that
    * gets `dvDirs.isEmpty && colMap.isEmpty` may hand the relation
    * straight to Catalyst (full pushdown, stock parquet codegen); live
    * DVs need [[Manifest.maskedByDv]] layered on top — returning the
    * bare relation then would resurrect deleted rows — and a non-empty
    * column map means the relation's schema is PHYSICAL (a logical-face
    * projection must wrap it). `partitionCol` is expected PHYSICAL here
    * (callers translate at their own boundary). */
  private[graft] def planned(spark: SparkSession, dir: String,
                             partitionCol: Option[String] = None,
                             version: Option[Long] = None)
      : (HadoopFsRelation, Seq[String], Seq[String]) = {
    // the venue decision reads the memoized snapshot header (the index
    // below resolves the same one) — no entry materialization
    val mBytes = Manifest.snapshotMeta(spark, dir, version).manifestBytes
    val (index: FileIndex, schema, dvDirs, colMap) =
      if (mBytes >= Manifest.localReadBudget(spark)) {
        val i = new DistributedManifestFileIndex(spark, dir, partitionCol,
          version)
        (i, i.dataSchema, i.meta.dvDirs, i.meta.colMap)
      } else {
        val i = new ManifestFileIndex(spark, dir, partitionCol, version)
        (i, i.dataSchema, i.snap.dvDirs, i.snap.colMap)
      }
    (HadoopFsRelation(index, new StructType(),
      schema, None, new ParquetFileFormat(), Map.empty)(spark), dvDirs,
      colMap)
  }

  /** Register the manifest table as a SQL temp view named `name`, so
    * `spark.sql("... FROM name WHERE ...")` plans through the pruning
    * FileIndex like any [[scan]] DataFrame (SQL WHERE clauses become the
    * same pushed dataFilters). Re-registering refreshes to the then-
    * latest snapshot — a view is FROZEN at its registration version,
    * which is snapshot isolation, not staleness.
    *
    * Registration also enables SQL DML and maintenance STATEMENTS on
    * the name (`DELETE FROM` / `UPDATE` / `MERGE INTO` / `VACUUM` /
    * `OPTIMIZE` — [[graft.sql.GraftSqlDml]]), which need
    * `partitionCol`; each such statement re-registers the view at the
    * new snapshot, so a follow-up SELECT sees the write. */
  def register(spark: SparkSession, name: String, dir: String,
               partitionCol: Option[String] = None,
               version: Option[Long] = None): Unit = {
    scan(spark, dir, partitionCol, version).createOrReplaceTempView(name)
    graft.sql.GraftSqlTables.put(spark, name, dir, partitionCol)
  }
}

package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{FieldName, RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation, UnresolvedTable, UnresolvedTableValuedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.{ParserInterface, ParseException}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DateType, LongType, StringType, StructType, TimestampType}

import graft.ops.{Manifest, MergeClause}
import graft.plans.{DistributedManifestFileIndex, ManifestFileIndex, ManifestScan}

/** SQL STATEMENT surface for the manifest lake layer: `DELETE FROM` /
  * `UPDATE` / `MERGE INTO` / `INSERT INTO` on a manifest table route to
  * the three-tier predicate planner, the clause-merge operator, and the
  * append/overwrite commit paths; the maintenance verbs Spark's grammar
  * lacks (`VACUUM t [RETAIN n VERSIONS] [FORCE]`, `OPTIMIZE t [WHERE p
  * IN (...)] [ZORDER BY (x, y[, z]) | HILBERT BY (x, y)]`,
  * `CREATE/DROP MANIFEST TABLE`) parse here directly — Delta's
  * statement set, served by [[GraftSqlParser]] through
  * `spark.sql.extensions` with zero new grammar for the DML verbs
  * (Spark's own parser produces `DeleteFromTable` / `UpdateTable` /
  * `MergeIntoTable` / `InsertIntoStatement`; this layer only REROUTES
  * those plans when the target is a manifest table, so every other
  * table's DML behaves exactly as stock Spark).
  *
  * A statement's target resolves through TWO doors, no Scala call
  * required for the second:
  *  1. the [[ManifestScan.register]] registry (the temp-view door) —
  *     verified still-current against the session catalog at statement
  *     time, so a view the user dropped or rebound can never be
  *     silently mutated through a stale registry entry;
  *  2. the SESSION CATALOG: a table created as `CREATE TABLE ... USING
  *     graft-manifest OPTIONS (path '...', partitionCol '...')` (or
  *     the `CREATE MANIFEST TABLE` verb) resolves its dir + partition
  *     column from the catalog relation directly.
  * After every successful statement the resolved name refreshes (the
  * temp view re-registers at the new latest snapshot; a catalog
  * relation's cache invalidates), so a follow-up SELECT sees the
  * write. */
object GraftSqlTables {
  case class Ref(dir: String, partitionCol: Option[String]) {
    def pCol(name: String): String = partitionCol.getOrElse(
      throw new IllegalArgumentException(
        s"manifest table $name has no partition column — register with " +
          "ManifestScan.register(name, dir, Some(partitionCol)), or add " +
          "OPTIONS (partitionCol '...') to the catalog table, to enable " +
          "SQL DML"))
  }

  /** (session, name-lowercased) → table ref. Entries are
    * SESSION-SCOPED, exactly as the temp views they shadow are: in a
    * multi-session JVM (the Thrift-server shape) a second
    * SparkSession resolving a name session A registered sees no entry
    * of its own — it can neither mutate A's table through the stale
    * name nor GC A's registration from its own temp-view-absence.
    * Names are case-insensitive, as SQL identifiers are. */
  private val reg =
    new java.util.concurrent.ConcurrentHashMap[String, Ref]()

  private def sessionKey(spark: SparkSession): String =
    org.apache.spark.sql.GraftSqlBridge.sessionUUID(spark)
  private def keyOf(spark: SparkSession, name: String): String =
    sessionKey(spark) + "/" + name.toLowerCase(java.util.Locale.ROOT)

  def put(spark: SparkSession, name: String, dir: String,
          partitionCol: Option[String]): Unit =
    reg.put(keyOf(spark, name), Ref(dir, partitionCol))

  def lookup(spark: SparkSession, name: String): Option[Ref] =
    Option(reg.get(keyOf(spark, name)))

  def drop(spark: SparkSession, name: String): Unit =
    reg.remove(keyOf(spark, name))

  /** This session's registered names, sorted — the
    * `SHOW MANIFEST TABLES` registry half. */
  def all(spark: SparkSession): Seq[(String, Ref)] = {
    import scala.jdk.CollectionConverters._
    val prefix = sessionKey(spark) + "/"
    reg.asScala.toSeq.collect {
      case (k, r) if k.startsWith(prefix) => k.stripPrefix(prefix) -> r
    }.sortBy(_._1)
  }

  /** Resolve a statement's target name to a manifest table ref —
    * registry first (VERIFIED against the live temp view), session
    * catalog second. None = not a manifest table; the statement keeps
    * stock Spark's behavior. */
  private[graft] def resolveRef(spark: SparkSession,
                                parts: Seq[String]): Option[Ref] =
    parts match {
      case Seq(n) =>
        lookup(spark, n) match {
          case Some(r) => verifiedRegistryRef(spark, n, r)
          case None =>
            // an UNREGISTERED temp view shadows any catalog table of
            // the same name for SELECT — DML must not reach past it to
            // mutate a table the user's reads don't see
            if (spark.sessionState.catalog.getTempView(n).isDefined) None
            else catalogRef(spark, n, TableIdentifier(n))
        }
      case Seq(db, t) =>
        catalogRef(spark, parts.mkString("."), TableIdentifier(t, Some(db)))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        catalogRef(spark, parts.mkString("."), TableIdentifier(t, Some(db)))
      case _ => None
    }

  /** A registry hit is only valid while the session's temp view of the
    * name still IS the registered manifest scan: the user may have
    * dropped the view (registry entry GCs, resolution falls through to
    * the catalog) or rebound the name to a different relation (REFUSE —
    * mutating the old dir while SELECT reads the new relation is the
    * silent-divergence bug this check exists to close). */
  private def verifiedRegistryRef(spark: SparkSession, name: String,
                                  r: Ref): Option[Ref] =
    spark.sessionState.catalog.getTempView(name) match {
      case None =>
        drop(spark, name)
        catalogRef(spark, name, TableIdentifier(name))
      case Some(view) =>
        val scanDirs = view.collect {
          case lr: LogicalRelation => lr.relation match {
            case h: HadoopFsRelation => h.location match {
              case i: ManifestFileIndex => Some(i.tableDir)
              case i: DistributedManifestFileIndex => Some(i.tableDir)
              case _ => None
            }
            case _ => None
          }
        }.flatten
        if (scanDirs.contains(r.dir)) Some(r)
        else throw new IllegalStateException(
          s"temp view $name was rebound after its manifest registration " +
            s"(registered dir ${r.dir}, current view reads " +
            s"${if (scanDirs.isEmpty) "a non-manifest relation"
            else scanDirs.mkString(", ")}) — re-run " +
            "ManifestScan.register to point SQL DML at the new table, " +
            "or drop the view to fall back to a catalog table")
    }

  /** A `CREATE TABLE ... USING graft-manifest` catalog entry, resolved
    * to its manifest dir + partition column. Time-travel-pinned names
    * (versionAsOf/timestampAsOf options) refuse DML loudly: the pin is
    * a READ face — mutating the live table through a name that reads
    * history would split what the user sees from what they changed. */
  private def catalogRef(spark: SparkSession, display: String,
                         ti: TableIdentifier): Option[Ref] = {
    val meta =
      try {
        val cat = spark.sessionState.catalog
        if (cat.tableExists(ti)) Some(cat.getTableMetadata(ti)) else None
      } catch {
        // a nonexistent database in a qualified name is "not ours",
        // never an error at reroute time
        case _: org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException =>
          None
      }
    meta.filter(_.provider.exists(_.equalsIgnoreCase("graft-manifest")))
      .map { m =>
        val opts = CaseInsensitiveMap(m.storage.properties)
        if (opts.contains("versionAsOf") || opts.contains("timestampAsOf"))
          throw new IllegalArgumentException(
            s"$display is a time-travel-pinned graft-manifest table — DML " +
              "would mutate the LIVE table while this name reads history; " +
              "target an unpinned name for the same path instead")
        val dir = opts.get("path")
          .orElse(m.storage.locationUri.map(u =>
            new org.apache.hadoop.fs.Path(u).toString))
          .getOrElse(throw new IllegalArgumentException(
            s"graft-manifest table $display has no path — recreate with " +
              "OPTIONS (path '...') or LOCATION"))
        Ref(dir, opts.get("partitionCol"))
      }
  }

  /** Re-publish `name` at the table's LATEST snapshot — every DML
    * command's last step, so SQL readers see the write. Registered
    * temp views re-register; catalog tables invalidate their cached
    * relation (the V1 relation cache would otherwise serve the
    * PRE-WRITE FileIndex to every later SELECT). */
  def refresh(spark: SparkSession, name: String): Unit = {
    lookup(spark, name).foreach(r =>
      ManifestScan.register(spark, name, r.dir, r.partitionCol))
    try {
      val parts = name.split('.').toSeq
      val ti = parts match {
        case Seq(n) => Some(TableIdentifier(n))
        case Seq(db, t) => Some(TableIdentifier(t, Some(db)))
        case Seq(c, db, t) if c.equalsIgnoreCase("spark_catalog") =>
          Some(TableIdentifier(t, Some(db)))
        case _ => None
      }
      val cat = spark.sessionState.catalog
      if (ti.exists(i => (parts.size > 1 ||
          cat.getTempView(parts.head).isEmpty) && cat.tableExists(i)))
        spark.catalog.refreshTable(name)
    } catch { case scala.util.control.NonFatal(_) => () }
  }
}

/** `DELETE FROM <manifest table> [WHERE p]` → the three-tier predicate
  * planner ([[Manifest.deleteWhere]]; merge-on-read via
  * `SET graft.sql.dml.mor=true` → [[Manifest.deleteWhereMor]]). */
case class GraftDeleteCommand(name: String, dir: String, pCol: String,
                              predicate: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.metricOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val m =
      if (GraftSqlDml.morEnabled(spark))
        Manifest.deleteWhereMor(spark, dir, predicate, pCol)
      else Manifest.deleteWhere(spark, dir, predicate, pCol)
    GraftSqlTables.refresh(spark, name)
    GraftSqlDml.metricRows(m)
  }
}

/** `UPDATE <manifest table> SET c = e, ... [WHERE p]` →
  * [[Manifest.updateWhere]] / (MoR) [[Manifest.updateWhereMor]]. */
case class GraftUpdateCommand(name: String, dir: String, pCol: String,
                              set: Seq[(String, String)], predicate: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.metricOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val m =
      if (GraftSqlDml.morEnabled(spark))
        Manifest.updateWhereMor(spark, dir, set, predicate, pCol)
      else Manifest.updateWhere(spark, dir, set, predicate, pCol)
    GraftSqlTables.refresh(spark, name)
    GraftSqlDml.metricRows(m)
  }
}

/** `MERGE INTO <manifest table> [AS t] USING <src> [AS s] ON ... WHEN
  * ...` → [[Manifest.mergeClauses]]. `sourcePlan` is the parsed (still
  * unresolved) source subtree; it resolves through the session's own
  * analyzer at run time, so views, subqueries, and other registered
  * manifest tables all work as sources. */
case class GraftMergeCommand(name: String, dir: String, pCol: String,
                             sourcePlan: LogicalPlan,
                             on: Seq[(String, String)],
                             targetAlias: String, sourceAlias: String,
                             matched: Seq[MergeClause.Matched],
                             notMatched: Seq[MergeClause.NotMatched],
                             notMatchedBySource: Seq[MergeClause.NotMatchedBySource])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.metricOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val source =
      org.apache.spark.sql.GraftPlanApi.ofRows(spark, sourcePlan)
    val m = Manifest.mergeClauses(spark, dir, source, on, pCol,
      matched, notMatched, notMatchedBySource, targetAlias, sourceAlias)
    GraftSqlTables.refresh(spark, name)
    GraftSqlDml.metricRows(m)
  }
}

/** `INSERT INTO/OVERWRITE <manifest table> [(cols)] <query>` →
  * [[Manifest.append]] / [[Manifest.overwrite]] — one snapshot commit,
  * never a raw file write into the table root (stock Spark's
  * InsertIntoHadoopFsRelationCommand would drop parquet files the
  * manifest never lists: invisible to every read, stranded until
  * vacuum). Column handling is stock-shaped: positional with casts by
  * default (full arity required), by-name for `BY NAME` / explicit
  * column lists — and THERE an omitted column null-fills (ANSI
  * `DEFAULT NULL`; manifest schemas are recorded nullable, and a
  * `c IS NOT NULL` CHECK constraint still refuses the commit loudly,
  * which is exactly the non-nullable refusal path). */
case class GraftInsertCommand(name: String, dir: String, pCol: String,
                              query: LogicalPlan, cols: Seq[String],
                              overwrite: Boolean, byName: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.metricOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val df = org.apache.spark.sql.GraftPlanApi.ofRows(spark, query)
    val target = Manifest.tableSchema(spark, dir)
    val named =
      if (cols.nonEmpty) {
        require(cols.size == df.columns.length,
          s"INSERT column list names ${cols.size} columns but the query " +
            s"produces ${df.columns.length}")
        df.toDF(cols: _*)
      } else if (byName) df
      else {
        require(df.columns.length == target.fields.length,
          s"INSERT provides ${df.columns.length} columns but $name has " +
            s"${target.fields.length} (${target.fieldNames.mkString(", ")})")
        df.toDF(target.fieldNames.toIndexedSeq: _*)
      }
    named.columns.foreach(c =>
      require(target.fields.exists(_.name.equalsIgnoreCase(c)),
        s"INSERT names column $c, which $name does not have " +
          s"(${target.fieldNames.mkString(", ")})"))
    require(named.columns.map(_.toLowerCase(java.util.Locale.ROOT))
        .distinct.length == named.columns.length,
      s"INSERT names a column twice: ${named.columns.mkString(", ")}")
    // explicit-list / BY NAME inserts may OMIT columns (filled NULL);
    // positional inserts checked full arity above
    val partial = cols.nonEmpty || byName
    val aligned = named.select(target.fields.toIndexedSeq.map { f =>
      named.columns.find(_.equalsIgnoreCase(f.name)) match {
        case Some(src) => col(src).cast(f.dataType).as(f.name)
        case None =>
          require(partial,
            s"INSERT must provide every column of $name; missing ${f.name}")
          org.apache.spark.sql.functions.lit(null)
            .cast(f.dataType).as(f.name)
      }
    }: _*)
    if (overwrite) Manifest.overwrite(spark, dir, aligned, pCol)
    else Manifest.append(spark, dir, aligned, pCol)
    GraftSqlTables.refresh(spark, name)
    GraftSqlDml.metricRows(Map(
      "committed_version" -> Manifest.latestVersion(spark, dir).getOrElse(-1L)))
  }
}

/** `VACUUM <manifest table> [RETAIN n VERSIONS] [FORCE]` →
  * [[Manifest.vacuumOrphans]] (age floor from
  * `graft.vacuum.staleMillis`, default 1 h — set 0 only in
  * single-writer maintenance windows). Without RETAIN the statement
  * keeps [[GraftSqlDml.VacuumDefaultKeep]] (10) versions — dropping
  * ALL history in one bare statement was judged too sharp; say
  * `RETAIN 1 VERSIONS` explicitly for that. */
case class GraftVacuumCommand(name: String, dir: String,
                              keepVersions: Int, force: Boolean,
                              dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.metricOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val stale = spark.conf.getOption("graft.vacuum.staleMillis")
      .map(_.toLong).getOrElse(3600 * 1000L)
    if (dryRun) {
      // `DRY RUN`: the identical classification with every delete
      // suppressed — preview a retention change before pulling the
      // trigger; table state is untouched (no refresh needed)
      val m = Manifest.vacuumDryRun(spark, dir, keepVersions, stale, force)
      GraftSqlDml.metricRows(m + ("dry_run" -> 1L))
    } else {
      val n = Manifest.vacuumOrphans(spark, dir, keepVersions, stale, force)
      // the registered view may be frozen at a version this vacuum just
      // dropped — re-register at the surviving latest so the next SELECT
      // never opens a reclaimed file
      GraftSqlTables.refresh(spark, name)
      GraftSqlDml.metricRows(Map("files_reclaimed" -> n))
    }
  }
}

/** `OPTIMIZE <manifest table> [INCREMENTAL] [WHERE pcol IN (...)]
  * [ZORDER BY (x, y[, z]) | HILBERT BY (x, y)]` → [[Manifest.compact]]
  * / `clusterZ[3][Where]` / `clusterHilbert[Where]` /
  * [[Manifest.clusterIncremental]]. */
case class GraftOptimizeCommand(name: String, dir: String, pCol: String,
                                values: Seq[String], curve: Option[String],
                                curveCols: Seq[String],
                                incremental: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.metricOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val n: Long = (curve, curveCols, values) match {
      case _ if incremental =>
        require(values.isEmpty,
          "OPTIMIZE INCREMENTAL takes no WHERE — it scopes itself to " +
            "the files added since the last pass")
        (curve, curveCols) match {
          case (Some("ZORDER"), Seq(x, y)) =>
            Manifest.clusterIncremental(spark, dir, pCol, x, y)
          case (Some("HILBERT"), Seq(x, y)) =>
            Manifest.clusterIncremental(spark, dir, pCol, x, y,
              hilbert = true)
          case _ => throw new IllegalArgumentException(
            "OPTIMIZE INCREMENTAL needs ZORDER BY (x, y) or " +
              "HILBERT BY (x, y)")
        }
      case (None, _, vs) =>
        Manifest.compact(spark, dir, pCol, values = vs)
      case (Some("ZORDER"), Seq(x, y), Nil) =>
        Manifest.clusterZ(spark, dir, pCol, x, y); -1L
      case (Some("ZORDER"), Seq(x, y, z), Nil) =>
        Manifest.clusterZ3(spark, dir, pCol, x, y, z); -1L
      case (Some("HILBERT"), Seq(x, y), Nil) =>
        Manifest.clusterHilbert(spark, dir, pCol, x, y); -1L
      case (Some("ZORDER"), Seq(x, y), vs) =>
        Manifest.clusterZWhere(spark, dir, pCol, x, y, vs)
      case (Some("ZORDER"), Seq(x, y, z), vs) =>
        Manifest.clusterZ3Where(spark, dir, pCol, x, y, z, vs)
      case (Some("HILBERT"), Seq(x, y), vs) =>
        Manifest.clusterHilbertWhere(spark, dir, pCol, x, y, vs)
      case (Some(c), cols, _) => throw new IllegalArgumentException(
        s"OPTIMIZE $c BY takes 2 (or, for ZORDER, 3) columns; " +
          s"got ${cols.size}")
    }
    GraftSqlTables.refresh(spark, name)
    GraftSqlDml.metricRows(Map("files_touched" -> n))
  }
}

/** `DESCRIBE HISTORY <manifest table>` → [[Manifest.describeHistory]]
  * (per-version snapshot shape; O(retained versions), no entry
  * collect). */
case class GraftDescribeHistoryCommand(name: String, dir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files", LongType, nullable = false)(),
    AttributeReference("rows", LongType, nullable = false)(),
    AttributeReference("bytes", LongType, nullable = false)(),
    AttributeReference("dv_dirs", LongType, nullable = false)(),
    AttributeReference("constraints", LongType, nullable = false)(),
    AttributeReference("txn", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val df = Manifest.describeHistory(spark, dir)
    require(df.columns.toSeq == output.map(_.name),
      s"describeHistory schema drifted: ${df.columns.mkString(",")}")
    df.collect().toSeq
  }
}

/** `DESCRIBE DETAIL <manifest table>` → [[Manifest.detail]] (one row:
  * version, file/byte/row totals, visible columns, pruning config,
  * constraints, DV count, chain depth — list columns render
  * comma-joined for a fixed command schema). */
case class GraftDescribeDetailCommand(name: String, dir: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("num_rows", LongType, nullable = false)(),
    AttributeReference("columns", StringType, nullable = false)(),
    AttributeReference("stats_columns", StringType, nullable = false)(),
    AttributeReference("bloom_columns", StringType, nullable = false)(),
    AttributeReference("constraints", StringType, nullable = false)(),
    AttributeReference("num_dv_dirs", LongType, nullable = false)(),
    AttributeReference("chain_depth", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val r = Manifest.detail(spark, dir).head()
    Seq(Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getSeq[String](4).mkString(","), r.getSeq[String](5).mkString(","),
      r.getSeq[String](6).mkString(","), r.getSeq[String](7).mkString(","),
      r.getLong(8), r.getLong(9)))
  }
}

/** `SHOW MANIFEST TABLES` — every name SQL statements can target:
  * the verified registry (temp-view door) plus the session catalog's
  * `graft-manifest` tables. */
case class GraftShowTablesCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("name", StringType, nullable = false)(),
    AttributeReference("source", StringType, nullable = false)(),
    AttributeReference("dir", StringType, nullable = false)(),
    AttributeReference("partition_col", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val cat = spark.sessionState.catalog
    val reg = GraftSqlTables.all(spark).map { case (n, r) =>
      Row(n, "registry", r.dir, r.partitionCol.getOrElse(""))
    }
    val db = cat.getCurrentDatabase
    val catalogRows = cat.listTables(db).flatMap { ti =>
      try {
        val m = cat.getTableMetadata(ti)
        if (!m.provider.exists(_.equalsIgnoreCase("graft-manifest"))) None
        else {
          val opts = CaseInsensitiveMap(m.storage.properties)
          Some(Row(ti.table, "catalog",
            opts.get("path").orElse(m.storage.locationUri.map(u =>
              new org.apache.hadoop.fs.Path(u).toString)).getOrElse(""),
            opts.get("partitionCol").getOrElse("")))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    (reg ++ catalogRows).sortBy(_.getString(0))
  }
}

/** `RESTORE <manifest table> [TO] VERSION AS OF <n>` →
  * [[Manifest.restore]] (a new commit re-pointing at version n's
  * manifest; history is append-only, nothing is erased). */
case class GraftRestoreCommand(name: String, dir: String, version: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.metricOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val v = Manifest.restore(spark, dir, version)
    GraftSqlTables.refresh(spark, name)
    GraftSqlDml.metricRows(Map("restored_as_version" -> v))
  }
}

/** `CLONE <manifest table> TO '<dir>' [AS <name>]` →
  * [[Manifest.shallowClone]]; with AS the clone registers for SQL
  * under the new name (source's partition column carries). */
case class GraftCloneCommand(srcName: String, srcDir: String,
                             pCol: Option[String], dstDir: String,
                             asName: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.metricOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val n = Manifest.shallowClone(spark, srcDir, dstDir)
    asName.foreach(a => ManifestScan.register(spark, a, dstDir, pCol))
    GraftSqlDml.metricRows(Map("batch_dirs_referenced" -> n))
  }
}

/** The ALTER TABLE verbs a manifest table supports, rerouted from
  * Spark's parsed v2 nodes ([[GraftSqlDml.reroute]]) to the
  * metadata-only schema operators — every one is a sentinel/colmap
  * commit, no data file rewrites, at any table size. */
sealed trait GraftAlterOp
object GraftAlterOp {
  case class Rename(from: String, to: String) extends GraftAlterOp
  case class Drop(cols: Seq[String], ifExists: Boolean) extends GraftAlterOp
  case class Add(cols: Seq[(String, String)]) extends GraftAlterOp
  case class Widen(col: String, newType: String) extends GraftAlterOp
  case class AddCheck(constraintName: String, sql: String) extends GraftAlterOp
  case class DropCheck(constraintName: String, ifExists: Boolean)
    extends GraftAlterOp
}

/** `ALTER TABLE <manifest table> RENAME COLUMN / DROP COLUMN(S) /
  * ADD COLUMNS / ALTER COLUMN ... TYPE / ADD CONSTRAINT ... CHECK /
  * DROP CONSTRAINT` → [[Manifest.renameColumn]] / [[Manifest.dropColumn]]
  * / [[Manifest.evolve]] / [[Manifest.widenColumn]] /
  * [[Manifest.addConstraint]] / [[Manifest.dropConstraint]]. */
case class GraftAlterCommand(name: String, dir: String, op: GraftAlterOp)
    extends LeafRunnableCommand {
  import GraftAlterOp._
  override val output: Seq[Attribute] = GraftSqlDml.metricOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val applied: Long = op match {
      case Rename(from, to) =>
        Manifest.renameColumn(spark, dir, from, to); 1L
      case Drop(cols, ifExists) =>
        val have = Manifest.tableSchema(spark, dir).fieldNames
        val todo = cols.filter(c =>
          have.exists(_.equalsIgnoreCase(c)) || {
            require(ifExists, s"cannot drop $c: no such column in $name " +
              s"(${have.mkString(", ")})")
            false
          })
        todo.foreach(Manifest.dropColumn(spark, dir, _)); todo.size.toLong
      case Add(cols) =>
        Manifest.evolve(spark, dir, cols); cols.size.toLong
      case Widen(c, t) =>
        Manifest.widenColumn(spark, dir, c, t); 1L
      case AddCheck(n, sql) =>
        Manifest.addConstraint(spark, dir, n, sql); 1L
      case DropCheck(n, ifExists) =>
        val have = Manifest.constraintsOf(spark, dir).map(_._1)
        if (have.contains(n)) { Manifest.dropConstraint(spark, dir, n); 1L }
        else {
          require(ifExists, s"cannot drop constraint $n: $name has " +
            s"${if (have.isEmpty) "no constraints" else have.mkString(", ")}")
          0L
        }
    }
    GraftSqlTables.refresh(spark, name)
    GraftSqlDml.metricRows(Map("ops_applied" -> applied))
  }
}

/** `CREATE MANIFEST TABLE <name> (<schema>) PARTITIONED BY (c)
  * LOCATION '<dir>' [STATS BY (c, ...)] [BLOOM BY (c, ...)]` →
  * [[Manifest.create]] with an empty first snapshot, then
  * [[ManifestScan.register]] so the name SELECTs and DMLs immediately —
  * the all-SQL birth of a table (`INSERT INTO` fills it). */
case class GraftCreateTableCommand(name: String, dir: String, ddl: String,
                                   pCol: String, statsCols: Seq[String],
                                   bloomCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.metricOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val schema = StructType.fromDDL(ddl)
    require(schema.fieldNames.exists(_.equalsIgnoreCase(pCol)),
      s"PARTITIONED BY column $pCol is not in the declared schema " +
        s"(${schema.fieldNames.mkString(", ")})")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    Manifest.create(spark, dir, empty, pCol, statsCols,
      bloomCols = bloomCols)
    ManifestScan.register(spark, name, dir, Some(pCol))
    GraftSqlDml.metricRows(Map("created_version" -> 1L))
  }
}

/** `CONVERT TO MANIFEST '<parquetDir>' AS <name> PARTITIONED BY (c)
  * LOCATION '<tableDir>' [STATS BY (c, ...)]` → [[Manifest.convert]]
  * (adopt an existing plain-parquet directory by reference, zero
  * rewrite), then [[ManifestScan.register]] so the name SELECTs and
  * DMLs immediately. */
case class GraftConvertCommand(name: String, dir: String,
                               parquetDir: String, pCol: String,
                               statsCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.metricOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val n = Manifest.convert(spark, dir, parquetDir, pCol, statsCols)
    ManifestScan.register(spark, name, dir, Some(pCol))
    GraftSqlDml.metricRows(Map("files_adopted" -> n))
  }
}

/** `DROP MANIFEST TABLE <name> [PURGE]` — releases every clone
  * retention pin the table holds on its sources (forced: a drop is
  * exactly the re-open-the-window act the pin docs describe), drops
  * the temp view + registry entry (and any same-name catalog entry),
  * and with PURGE deletes the table's files recursively. */
case class GraftDropTableCommand(name: String, dir: String,
                                 purge: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = GraftSqlDml.metricOutput
  override def run(spark: SparkSession): Seq[Row] = {
    val released = Manifest.releaseCloneSourcePins(spark, dir, force = true)
    spark.catalog.dropTempView(name)
    GraftSqlTables.drop(spark, name)
    val cat = spark.sessionState.catalog
    val ti = TableIdentifier(name)
    if (cat.tableExists(ti) && cat.getTableMetadata(ti).provider
        .exists(_.equalsIgnoreCase("graft-manifest")))
      cat.dropTable(ti, ignoreIfNotExists = true, purge = false)
    if (purge) {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
    GraftSqlDml.metricRows(Map("pins_released" -> released,
      "purged" -> (if (purge) 1L else 0L)))
  }
}

object GraftSqlDml {
  private[sql] def metricOutput: Seq[Attribute] = Seq(
    AttributeReference("metric", StringType, nullable = false)(),
    AttributeReference("value", LongType, nullable = false)())

  private[sql] def metricRows(m: Map[String, Long]): Seq[Row] =
    m.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }

  private[sql] def morEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("graft.sql.dml.mor").exists(_.toBoolean)

  /** Bare-`VACUUM` retention when no RETAIN clause is given. */
  val VacuumDefaultKeep = 10

  // ---- extension statements Spark's grammar lacks ----

  // statement targets may be 1-3-part dotted identifiers (temp view /
  // db.table / spark_catalog.db.table)
  private val N = """([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*){0,2})"""
  private val VacuumRe =
    ("""(?is)^\s*VACUUM\s+""" + N +
      """(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?(\s+DRY\s+RUN)?(\s+FORCE)?\s*;?\s*$""").r
  private val OptimizeRe =
    ("""(?is)^\s*OPTIMIZE\s+""" + N +
      """(\s+INCREMENTAL)?(?:\s+WHERE\s+(.*?))?(?:\s+(ZORDER|HILBERT)\s+BY\s*\(\s*([^)]*?)\s*\))?\s*;?\s*$""").r
  private val DescribeHistoryRe =
    ("""(?is)^\s*DESCRIBE\s+HISTORY\s+""" + N + """\s*;?\s*$""").r
  private val DescribeDetailRe =
    ("""(?is)^\s*DESCRIBE\s+DETAIL\s+""" + N + """\s*;?\s*$""").r
  private val ShowTablesRe =
    """(?is)^\s*SHOW\s+MANIFEST\s+TABLES\s*;?\s*$""".r
  private val RestoreRe =
    ("""(?is)^\s*RESTORE\s+""" + N +
      """\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""").r
  private val CloneRe =
    ("""(?is)^\s*CLONE\s+""" + N +
      """\s+TO\s+'([^']+)'(?:\s+AS\s+([A-Za-z_][A-Za-z0-9_]*))?\s*;?\s*$""").r
  private val CreateRe =
    ("""(?is)^\s*CREATE\s+MANIFEST\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)\s*""" +
      """\((.+)\)\s+PARTITIONED\s+BY\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s+""" +
      """LOCATION\s+'([^']+)'(?:\s+STATS\s+BY\s*\(([^)]*)\))?""" +
      """(?:\s+BLOOM\s+BY\s*\(([^)]*)\))?\s*;?\s*$""").r
  private val DropRe =
    """(?is)^\s*DROP\s+MANIFEST\s+TABLE\s+([A-Za-z_][A-Za-z0-9_]*)(\s+PURGE)?\s*;?\s*$""".r
  private val ConvertRe =
    ("""(?is)^\s*CONVERT\s+TO\s+MANIFEST\s+'([^']+)'\s+AS\s+""" +
      """([A-Za-z_][A-Za-z0-9_]*)\s+PARTITIONED\s+BY\s*""" +
      """\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)\s+LOCATION\s+'([^']+)'""" +
      """(?:\s+STATS\s+BY\s*\(([^)]*)\))?\s*;?\s*$""").r

  /** Parse a graft extension statement, or None for everything else
    * (the delegate parser then sees the text untouched). A matched
    * verb over an unresolvable name is a loud error, not a fallthrough
    * — the delegate could only produce a worse message. */
  def parseExtension(sqlText: String,
                     delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      case VacuumRe(name, retain, dry, force) =>
        val spark = SparkSession.active
        val ref = resolveOrThrow(spark, name, "VACUUM")
        val keep = Option(retain).map(_.toInt).getOrElse(VacuumDefaultKeep)
        Some(GraftVacuumCommand(name, ref.dir, keep, force != null,
          dryRun = dry != null))
      case OptimizeRe(name, incr, where, curve, cols) =>
        val spark = SparkSession.active
        val ref = resolveOrThrow(spark, name, "OPTIMIZE")
        val pCol = ref.pCol(name)
        val values = Option(where).map(w =>
          partitionValues(delegate.parseExpression(w), pCol))
          .getOrElse(Nil)
        val curveCols = Option(cols).map(_.split(',')
          .map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty).toSeq).getOrElse(Nil)
        Some(GraftOptimizeCommand(name, ref.dir, pCol, values,
          Option(curve).map(_.toUpperCase(java.util.Locale.ROOT)),
          curveCols, incremental = incr != null))
      case DescribeHistoryRe(name) =>
        val ref = resolveOrThrow(SparkSession.active, name,
          "DESCRIBE HISTORY")
        Some(GraftDescribeHistoryCommand(name, ref.dir))
      case DescribeDetailRe(name) =>
        val ref = resolveOrThrow(SparkSession.active, name,
          "DESCRIBE DETAIL")
        Some(GraftDescribeDetailCommand(name, ref.dir))
      case ShowTablesRe() =>
        Some(GraftShowTablesCommand())
      case RestoreRe(name, v) =>
        val ref = resolveOrThrow(SparkSession.active, name, "RESTORE")
        Some(GraftRestoreCommand(name, ref.dir, v.toLong))
      case CloneRe(name, dstDir, asName) =>
        val ref = resolveOrThrow(SparkSession.active, name, "CLONE")
        Some(GraftCloneCommand(name, ref.dir, ref.partitionCol, dstDir,
          Option(asName)))
      case CreateRe(name, ddl, pCol, loc, stats, bloom) =>
        def cols(s: String): Seq[String] = Option(s).map(_.split(',')
          .map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty).toSeq).getOrElse(Nil)
        Some(GraftCreateTableCommand(name, loc, ddl.trim, pCol,
          cols(stats), cols(bloom)))
      case DropRe(name, purge) =>
        val ref = resolveOrThrow(SparkSession.active, name,
          "DROP MANIFEST TABLE")
        Some(GraftDropTableCommand(name, ref.dir, purge != null))
      case ConvertRe(pdir, name, pCol, loc, stats) =>
        val statsCols = Option(stats).map(_.split(',')
          .map(_.trim.stripPrefix("`").stripSuffix("`"))
          .filter(_.nonEmpty).toSeq).getOrElse(Nil)
        Some(GraftConvertCommand(name, loc, pdir, pCol, statsCols))
      case _ => None
    }

  private def resolveOrThrow(spark: SparkSession, name: String,
                             verb: String): GraftSqlTables.Ref =
    GraftSqlTables.resolveRef(spark, name.split('.').toSeq).getOrElse(
      throw new IllegalArgumentException(
        s"$verb targets $name, which is not a registered manifest " +
          "table or a graft-manifest catalog table — " +
          "ManifestScan.register it, or CREATE TABLE ... USING " +
          "graft-manifest OPTIONS (path '...', partitionCol '...')"))

  /** `OPTIMIZE ... WHERE` accepts exactly the scope the scoped
    * operators take: `pcol = v` or `pcol IN (v, ...)` over literals —
    * rendered to the partition value-set's string form. */
  private def partitionValues(e: Expression, pCol: String): Seq[String] = {
    def attrOk(a: Expression): Boolean = a match {
      case u: UnresolvedAttribute =>
        u.nameParts.last.equalsIgnoreCase(pCol)
      case _ => false
    }
    def render(l: Expression): String = l match {
      case Literal(v, DateType) =>
        java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
      case Literal(v, _) => String.valueOf(v)
      case Cast(inner, _, _, _) => render(inner)
      case other => throw new IllegalArgumentException(
        s"OPTIMIZE WHERE values must be literals; got ${other.sql}")
    }
    e match {
      case EqualTo(a, l) if attrOk(a) => Seq(render(l))
      case EqualTo(l, a) if attrOk(a) => Seq(render(l))
      case In(a, ls) if attrOk(a) => ls.map(render)
      case other => throw new IllegalArgumentException(
        s"OPTIMIZE WHERE must scope the partition column ($pCol = v or " +
          s"$pCol IN (...)); got ${other.sql}")
    }
  }

  // ---- rerouting Spark-parsed DML plans ----

  /** The manifest table a DML target names, if any: unwraps one
    * optional alias, resolves through the registry (verified) or the
    * session catalog. */
  private def targetOf(plan: LogicalPlan)
      : Option[(String, String, GraftSqlTables.Ref)] = plan match {
    case SubqueryAlias(ident, child) =>
      targetOf(child).map { case (n, _, r) => (n, ident.name, r) }
    case r: UnresolvedRelation =>
      val parts = r.multipartIdentifier
      val display = parts.mkString(".")
      GraftSqlTables.resolveRef(SparkSession.active, parts)
        .map(ref => (display, parts.last, ref))
    case _ => None
  }

  /** Strip a leading qualifier in `quals` off every attribute — DELETE
    * and UPDATE predicates run against the bare scan frame, where
    * `tbl.col` would not resolve. */
  private def unqualify(e: Expression, quals: Set[String]): Expression =
    e.transform {
      case u: UnresolvedAttribute if u.nameParts.size > 1 &&
          quals.contains(u.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
        UnresolvedAttribute(u.nameParts.tail)
    }

  /** DML predicates re-render to text and re-parse inside the
    * operators, which evaluate them per row against the table alone —
    * a subquery (`WHERE k IN (SELECT ...)`) cannot survive that trip;
    * refuse with the remedy instead of a downstream parse error. */
  private def refuseSubqueries(e: Expression, where: String): Unit =
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      throw new IllegalArgumentException(
        s"subqueries are not supported in $where on manifest tables — " +
          "materialize the subquery (e.g. a temp view joined via MERGE " +
          "INTO, or Manifest.delete with a keys DataFrame) instead")

  /** Reroute a Spark-parsed DML plan whose target is a manifest table;
    * every other plan passes through untouched. */
  def reroute(plan: LogicalPlan): LogicalPlan = plan match {
    case d: DeleteFromTable =>
      targetOf(d.table).map { case (name, alias, ref) =>
        refuseSubqueries(d.condition, "DELETE conditions")
        val quals = Set(name.toLowerCase(java.util.Locale.ROOT),
          alias.toLowerCase(java.util.Locale.ROOT))
        GraftDeleteCommand(name, ref.dir, ref.pCol(name),
          unqualify(d.condition, quals).sql): LogicalPlan
      }.getOrElse(plan)
    case u: UpdateTable =>
      targetOf(u.table).map { case (name, alias, ref) =>
        u.condition.foreach(refuseSubqueries(_, "UPDATE conditions"))
        u.assignments.foreach(a =>
          refuseSubqueries(a.value, "UPDATE SET expressions"))
        val quals = Set(name.toLowerCase(java.util.Locale.ROOT),
          alias.toLowerCase(java.util.Locale.ROOT))
        val set = u.assignments.map { a =>
          val k = a.key match {
            case ua: UnresolvedAttribute => ua.nameParts.last
            case other => throw new IllegalArgumentException(
              s"UPDATE SET key must be a column; got ${other.sql}")
          }
          k -> unqualify(a.value, quals).sql
        }
        val cond = u.condition.map(c => unqualify(c, quals).sql)
          .getOrElse("true")
        GraftUpdateCommand(name, ref.dir, ref.pCol(name), set,
          cond): LogicalPlan
      }.getOrElse(plan)
    case m: MergeIntoTable =>
      targetOf(m.targetTable).map { case (name, tAlias, ref) =>
        rerouteMerge(m, name, tAlias, ref): LogicalPlan
      }.getOrElse(plan)
    case i: InsertIntoStatement =>
      targetOf(i.table).map { case (name, _, ref) =>
        require(i.partitionSpec.isEmpty,
          s"INSERT ... PARTITION is not supported on manifest table " +
            s"$name — the manifest clusters by its partition column " +
            "automatically; drop the PARTITION clause")
        require(!i.ifPartitionNotExists,
          s"INSERT ... IF NOT EXISTS is not supported on manifest " +
            s"table $name")
        // the command is a LEAF (its query is a field, not a child),
        // so the top-level rerouteReads pass cannot reach read
        // spellings nested in the source — substitute them here
        GraftInsertCommand(name, ref.dir, ref.pCol(name),
          rerouteReads(i.query),
          i.userSpecifiedCols, i.overwrite, i.byName): LogicalPlan
      }.getOrElse(plan)
    case RenameColumn(t, from, to) =>
      alterTargetOf(t).map { case (name, ref) =>
        GraftAlterCommand(name, ref.dir,
          GraftAlterOp.Rename(topLevel(name, from, "RENAME COLUMN"),
            to)): LogicalPlan
      }.getOrElse(plan)
    case DropColumns(t, cols, ifExists) =>
      alterTargetOf(t).map { case (name, ref) =>
        GraftAlterCommand(name, ref.dir,
          GraftAlterOp.Drop(cols.map(c =>
            topLevel(name, c, "DROP COLUMN")), ifExists)): LogicalPlan
      }.getOrElse(plan)
    case AddColumns(t, colsToAdd) =>
      alterTargetOf(t).map { case (name, ref) =>
        val cols = colsToAdd.map { c =>
          require(c.path.isEmpty,
            s"ADD COLUMNS into a nested field is not supported on " +
              s"manifest table $name")
          require(c.position.isEmpty && c.default.isEmpty,
            s"ADD COLUMNS with FIRST/AFTER or DEFAULT is not supported " +
              s"on manifest table $name — new columns append and " +
              "null-fill")
          c.colName -> c.dataType.catalogString
        }
        GraftAlterCommand(name, ref.dir,
          GraftAlterOp.Add(cols)): LogicalPlan
      }.getOrElse(plan)
    case AlterColumns(t, specs) =>
      alterTargetOf(t).map { case (name, ref) =>
        require(specs.size == 1,
          s"one ALTER COLUMN at a time on manifest table $name")
        val s = specs.head
        require(s.newDataType.isDefined && s.newNullability.isEmpty &&
          s.newComment.isEmpty && s.newPosition.isEmpty &&
          s.newDefaultExpression.isEmpty,
          s"only ALTER COLUMN ... TYPE (a rendering-stable widening) " +
            s"is supported on manifest table $name")
        GraftAlterCommand(name, ref.dir,
          GraftAlterOp.Widen(topLevel(name, s.column, "ALTER COLUMN"),
            s.newDataType.get.catalogString)): LogicalPlan
      }.getOrElse(plan)
    case AddCheckConstraint(t, cc) =>
      // the constraint's child is the existing-row VALIDATION plan
      // (Filter(NOT cond, relation)) — the table sits inside it as a
      // relation, not an UnresolvedTable; Manifest.addConstraint runs
      // its own distributed validation, so only the name is needed
      t.collectFirst { case r: UnresolvedRelation => r.multipartIdentifier }
        .flatMap(parts => GraftSqlTables
          .resolveRef(SparkSession.active, parts)
          .map(ref => GraftAlterCommand(parts.mkString("."), ref.dir,
            GraftAlterOp.AddCheck(cc.name, cc.condition)): LogicalPlan))
        .getOrElse(plan)
    case DropConstraint(t, cname, ifExists, cascade) =>
      alterTargetOf(t).map { case (name, ref) =>
        require(!cascade,
          s"DROP CONSTRAINT ... CASCADE is not supported on manifest " +
            s"table $name — constraints have no dependents here")
        GraftAlterCommand(name, ref.dir,
          GraftAlterOp.DropCheck(cname, ifExists)): LogicalPlan
      }.getOrElse(plan)
    case _ => plan
  }

  /** ALTER TABLE's target child is an [[UnresolvedTable]] (not a
    * relation): resolve it through the same registry/catalog doors. */
  private def alterTargetOf(plan: LogicalPlan)
      : Option[(String, GraftSqlTables.Ref)] = plan match {
    case t: UnresolvedTable =>
      val parts = t.multipartIdentifier
      GraftSqlTables.resolveRef(SparkSession.active, parts)
        .map(r => (parts.mkString("."), r))
    case _ => None
  }

  private def topLevel(name: String, f: FieldName, verb: String): String = {
    require(f.name.size == 1,
      s"$verb on a nested field (${f.name.mkString(".")}) is not " +
        s"supported on manifest table $name")
    f.name.head
  }

  /** Reroute manifest READ spellings nested anywhere in a query plan:
    * `SELECT ... FROM t VERSION AS OF n | TIMESTAMP AS OF ts` becomes
    * the version-pinned [[ManifestScan.scan]] (same pruning FileIndex,
    * frozen snapshot), and `table_changes('t', v1[, v2])` becomes
    * [[Manifest.changes]] between the two versions (v2 default: the
    * tip). Non-manifest names pass through for whatever the session's
    * other extensions make of them. */
  def rerouteReads(plan: LogicalPlan): LogicalPlan = {
    def spark = SparkSession.active
    plan.transformUp {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
        GraftSqlTables.resolveRef(spark, u.multipartIdentifier) match {
          case None => tt
          case Some(ref) =>
            val v: Long = ver match {
              case Some(s) => s.toLongOption.getOrElse(
                throw new IllegalArgumentException(
                  s"VERSION AS OF on manifest table " +
                    s"${u.multipartIdentifier.mkString(".")} needs an " +
                    s"integer version; got '$s'"))
              case None =>
                val raw = ts match {
                  case Some(Literal(s, StringType)) if s != null =>
                    s.toString
                  case Some(Literal(micros, TimestampType))
                      if micros != null =>
                    (micros.asInstanceOf[Long] / 1000L).toString
                  case Some(Cast(Literal(s, StringType), _, _, _))
                      if s != null =>
                    s.toString
                  case other => throw new IllegalArgumentException(
                    "TIMESTAMP AS OF on a manifest table needs a literal " +
                      s"timestamp; got ${other.map(_.sql).getOrElse("none")}")
                }
                graft.io.ManifestRelation.versionAtTime(spark, ref.dir, raw)
            }
            SubqueryAlias(u.multipartIdentifier.last,
              ManifestScan.scan(spark, ref.dir, ref.partitionCol, Some(v))
                .queryExecution.analyzed)
        }
      case tvf: UnresolvedTableValuedFunction
          if tvf.name.map(_.toLowerCase(java.util.Locale.ROOT)) ==
            Seq("table_changes") =>
        def str(e: Expression): String = e match {
          case Literal(s, StringType) if s != null => s.toString
          case other => throw new IllegalArgumentException(
            s"table_changes: first argument must be a literal table " +
              s"name string; got ${other.sql}")
        }
        val (nameArg, aRaw, bRaw) = tvf.functionArgs match {
          case Seq(n, a) => (str(n), a, None)
          case Seq(n, a, b) => (str(n), a, Some(b))
          case _ => throw new IllegalArgumentException(
            "table_changes takes (table, fromVersion|fromTimestamp" +
              "[, toVersion|toTimestamp])")
        }
        val ref = resolveOrThrow(spark, nameArg, "table_changes")
        // a bound is an integer VERSION or a TIMESTAMP/DATE literal —
        // the timestamp spelling ("changes since yesterday") resolves
        // through the same monotone in-commit-timestamp machinery as
        // `TIMESTAMP AS OF` (newest version committed at or before the
        // bound), so the two spellings of one range return identical
        // rows
        def bound(e: Expression): Long = e match {
          case Literal(v, dt) if v != null &&
              (dt == LongType || dt.isInstanceOf[org.apache.spark.sql.types.IntegerType] ||
                dt.isInstanceOf[org.apache.spark.sql.types.ShortType]) =>
            v.toString.toLong
          case Literal(micros, TimestampType) if micros != null =>
            graft.io.ManifestRelation.versionAtTime(spark, ref.dir,
              (micros.asInstanceOf[Long] / 1000L).toString)
          case Literal(days, DateType) if days != null =>
            graft.io.ManifestRelation.versionAtTime(spark, ref.dir,
              java.time.LocalDate.ofEpochDay(
                days.asInstanceOf[Int].toLong).toString)
          case Cast(Literal(s, StringType), TimestampType, _, _)
              if s != null =>
            graft.io.ManifestRelation.versionAtTime(spark, ref.dir,
              s.toString)
          case other => throw new IllegalArgumentException(
            s"table_changes: bounds must be integer versions or " +
              s"TIMESTAMP/DATE literals; got ${other.sql}")
        }
        val fromV = bound(aRaw)
        val toV = bRaw.map(bound)
        val tip = toV.getOrElse(Manifest.latestVersion(spark, ref.dir)
          .getOrElse(throw new IllegalArgumentException(
            s"no table at ${ref.dir}")))
        SubqueryAlias("table_changes",
          Manifest.changes(spark, ref.dir, fromV, tip)
            .queryExecution.analyzed)
    }
  }

  /** A PARAMETERIZED DML statement over a manifest table arrives
    * wrapped in the parameter node, misses [[reroute]] (which matches
    * DML at the plan ROOT), and would die downstream with stock
    * Spark's "DELETE is only supported with v2 tables" — refuse HERE
    * with the remedy instead. Our commands re-render predicates to
    * TEXT and re-parse them inside the operators; substituting the
    * session's parameter markers into that text is not ours to do. */
  def refuseParameterizedManifestDml(plan: LogicalPlan): Unit = {
    def manifestName(target: LogicalPlan): Option[String] =
      targetOf(target).map(_._1)
    def refuse(verb: String, n: String): Nothing =
      throw new IllegalArgumentException(
        s"parameterized $verb on manifest table $n is not supported — " +
          "inline the literal values into the statement text, or use " +
          "the Scala API (Manifest.deleteWhere / updateWhere / " +
          "mergeClauses) with your own argument binding")
    plan.foreach {
      case d: DeleteFromTable =>
        manifestName(d.table).foreach(refuse("DELETE", _))
      case u: UpdateTable =>
        manifestName(u.table).foreach(refuse("UPDATE", _))
      case m: MergeIntoTable =>
        manifestName(m.targetTable).foreach(refuse("MERGE", _))
      case i: InsertIntoStatement =>
        manifestName(i.table).foreach(refuse("INSERT", _))
      case _ => ()
    }
  }

  private def rerouteMerge(m: MergeIntoTable, name: String,
                           tAlias: String,
                           ref: GraftSqlTables.Ref): GraftMergeCommand = {
    require(!m.withSchemaEvolution,
      "MERGE ... WITH SCHEMA EVOLUTION is not supported on manifest " +
        "tables — evolve() the target first")
    val (sAlias, srcPlan) = m.sourceTable match {
      case SubqueryAlias(ident, child) => (ident.name, child)
      case r: UnresolvedRelation if r.multipartIdentifier.size == 1 =>
        (r.multipartIdentifier.head, r)
      case other => throw new IllegalArgumentException(
        "MERGE USING a subquery needs an alias (USING (...) AS s); " +
          s"got ${other.nodeName}")
    }
    // ON must be a conjunction of t.col = s.col equalities — the shape
    // the keyed candidate pruning can plan. (General ON predicates
    // would force a full-scan theta join; refuse loudly instead.)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def sideOf(a: UnresolvedAttribute): Option[(String, String)] =
      if (a.nameParts.size == 2) Some((a.nameParts.head, a.nameParts.last))
      else None
    val on = conjuncts(m.mergeCondition).map {
      case EqualTo(x: UnresolvedAttribute, y: UnresolvedAttribute) =>
        (sideOf(x), sideOf(y)) match {
          case (Some((qx, cx)), Some((qy, cy)))
              if qx.equalsIgnoreCase(tAlias) && qy.equalsIgnoreCase(sAlias) =>
            cx -> cy
          case (Some((qx, cx)), Some((qy, cy)))
              if qx.equalsIgnoreCase(sAlias) && qy.equalsIgnoreCase(tAlias) =>
            cy -> cx
          case _ => throw new IllegalArgumentException(
            s"MERGE ON term must pair the target and source aliases " +
              s"($tAlias/$sAlias); got ${EqualTo(x, y).sql}")
        }
      case other => throw new IllegalArgumentException(
        "MERGE ON must be a conjunction of target.col = source.col " +
          s"equalities; got ${other.sql}")
    }
    def setOf(assigns: Seq[Assignment]): Seq[(String, String)] =
      assigns.map { a =>
        val k = a.key match {
          case ua: UnresolvedAttribute => ua.nameParts.last
          case other => throw new IllegalArgumentException(
            s"SET key must be a column; got ${other.sql}")
        }
        refuseSubqueries(a.value, "MERGE SET/VALUES expressions")
        k -> a.value.sql
      }
    (m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions)
      .foreach {
        case UpdateAction(c, _, _) =>
          c.foreach(refuseSubqueries(_, "MERGE clause conditions"))
        case DeleteAction(c) =>
          c.foreach(refuseSubqueries(_, "MERGE clause conditions"))
        case InsertAction(c, _) =>
          c.foreach(refuseSubqueries(_, "MERGE clause conditions"))
        case _ => ()
      }
    val matched = m.matchedActions.map {
      case UpdateAction(c, assigns, _) =>
        MergeClause.Matched(MergeClause.Update(setOf(assigns)), c.map(_.sql))
      case UpdateStarAction(c) =>
        MergeClause.Matched(MergeClause.Update(Nil), c.map(_.sql))
      case DeleteAction(c) =>
        MergeClause.Matched(MergeClause.Delete, c.map(_.sql))
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN MATCHED action: $other")
    }
    val notMatched = m.notMatchedActions.map {
      case InsertAction(c, assigns) =>
        MergeClause.NotMatched(setOf(assigns), c.map(_.sql))
      case InsertStarAction(c) =>
        MergeClause.NotMatched(Nil, c.map(_.sql))
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN NOT MATCHED action: $other")
    }
    val nmbs = m.notMatchedBySourceActions.map {
      case UpdateAction(c, assigns, _) =>
        MergeClause.NotMatchedBySource(MergeClause.Update(setOf(assigns)),
          c.map(_.sql))
      case DeleteAction(c) =>
        MergeClause.NotMatchedBySource(MergeClause.Delete, c.map(_.sql))
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
    }
    // srcPlan is a command FIELD, not a child — nested read spellings
    // (VERSION AS OF, table_changes) substitute here or never
    GraftMergeCommand(name, ref.dir, ref.pCol(name),
      rerouteReads(srcPlan), on,
      tAlias, sAlias, matched, notMatched, nmbs)
  }
}

/** The `spark.sql.extensions`-injected parser: graft's maintenance
  * verbs first, then the delegate's full grammar with DML plans over
  * manifest tables rerouted ([[GraftSqlDml.reroute]]) and manifest
  * time-travel / change-feed read spellings substituted
  * ([[GraftSqlDml.rerouteReads]]). Everything else — including DML on
  * non-manifest tables — is the delegate's output verbatim. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlDml.parseExtension(sqlText, delegate)
      .getOrElse(GraftSqlDml.rerouteReads(
        GraftSqlDml.reroute(delegate.parsePlan(sqlText))))

  // the parameterized-sql entry point (spark.sql(text, args)): the
  // interface DEFAULT ignores the parameters, so it MUST forward to
  // the delegate's own implementation or every parameterized query on
  // this session would silently lose its arguments. Extension verbs
  // (regex-parsed, parameter-free) still intercept; a PARAMETERIZED
  // DML statement over a manifest table cannot be rerouted (our
  // commands re-parse predicate TEXT — marker substitution is the
  // session's, not ours) and REFUSES with the remedy instead of stock
  // Spark's downstream "v2 tables only" error.
  override def parsePlanWithParameters(
      sqlText: String,
      ctx: org.apache.spark.sql.catalyst.parser.ParameterContext)
      : LogicalPlan =
    GraftSqlDml.parseExtension(sqlText, delegate).getOrElse {
      val parsed = delegate.parsePlanWithParameters(sqlText, ctx)
      val rerouted = GraftSqlDml.reroute(parsed)
      if (rerouted eq parsed)
        GraftSqlDml.refuseParameterizedManifestDml(parsed)
      GraftSqlDml.rerouteReads(rerouted)
    }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    GraftSqlDml.rerouteReads(delegate.parseQuery(sqlText))
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

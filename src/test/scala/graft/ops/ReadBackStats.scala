package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference implementation of a batch's manifest write stats: one
  * read-back aggregation over the batch's data files, grouped by
  * `input_file_name()`. The engine collects the same stats during the
  * write itself; ManifestWriteStatsSpec checks the two agree field for
  * field. Everything here is plain Spark SQL aggregates, so it shares no
  * code with the write-time tracker except the bloom hash
  * ([[Manifest.bloomPosition]]), which defines the bitset layout. */
object ReadBackStats {

  /** Expected entries by manifest-relative path (`data/<batch>/<file>`),
    * in the slim form the manifest stores (the schema lives on the
    * sentinel, so `schema_ddl` is empty), bloom bitsets by
    * (path, column) as packed words, and the number of rows violating
    * each constraint (in `constraints` order). */
  final case class Result(entries: Map[String, ManifestEntry],
                          blooms: Map[(String, String), Seq[Long]],
                          violations: Seq[Long])

  /** `batchDir` is a `data/b-<uuid>` dir of a table with schema `ddl`;
    * `constraints` are boolean SQL expressions. */
  def apply(spark: SparkSession, batchDir: Path, ddl: String,
            partitionCol: String, statsCols: Seq[String],
            bloomCols: Seq[String] = Nil,
            constraints: Seq[String] = Nil): Result = {
    val fs = batchDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partLen = fs.listStatus(batchDir)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(st => st.getPath.getName -> st.getLen).toMap
    val schema = DataType.fromDDL(ddl).asInstanceOf[StructType]
    // TIMESTAMP stats are zone-free epoch-micros strings
    def statRender(agg: org.apache.spark.sql.Column, c: String) =
      schema(c).dataType match {
        case TimestampType => unix_micros(agg).cast("string")
        case _ => agg.cast("string")
      }
    val statAggs =
      if (statsCols.isEmpty)
        Seq(typedLit(Seq.empty[String]).as("stat_mins"),
          typedLit(Seq.empty[String]).as("stat_maxs"))
      else Seq(
        array(statsCols.map(c => statRender(min(col(c)), c)): _*).as("stat_mins"),
        array(statsCols.map(c => statRender(max(col(c)), c)): _*).as("stat_maxs"))
    val bloomAggs = bloomCols.flatMap(c => (0 until Manifest.BloomHashes)
      .map(i => collect_set(when(col(c).isNotNull,
        Manifest.bloomPosition(col(c), i))).as(s"bloom_${c}_$i")))
    // SQL-standard CHECK: a row violates when the expression is FALSE,
    // null/UNKNOWN passes
    val violAggs = constraints.zipWithIndex.map { case (sql, i) =>
      sum(when(!coalesce(expr(sql), lit(true)), 1L).otherwise(0L))
        .as(s"viol_$i")
    }
    val aggList = Seq(
      slice(sort_array(collect_set(col(partitionCol).cast("string"))),
        1, Manifest.ValuesCap + 1).as("values"),
      max(col(partitionCol).isNull.cast("int")).as("has_null"),
      count(lit(1)).as("rows")) ++ statAggs ++ bloomAggs ++ violAggs
    val stats = spark.read.schema(schema).parquet(batchDir.toString)
      .groupBy(input_file_name().as("file"))
      .agg(aggList.head, aggList.tail: _*)
      .collect().toSeq
    val rootUri = batchDir.toUri.getPath
    def relOf(r: Row): String = {
      val fileUri = new Path(r.getString(0)).toUri.getPath
      require(fileUri.startsWith(rootUri), s"unexpected file path $fileUri")
      s"data/${batchDir.getName}${fileUri.stripPrefix(rootUri)}"
    }
    val entries = stats.map { r =>
      val rel = relOf(r)
      val vals = r.getSeq[String](1)
      rel -> ManifestEntry(rel,
        values = vals.take(Manifest.ValuesCap),
        has_null = r.getInt(2) == 1,
        overflow = vals.length > Manifest.ValuesCap,
        rows = r.getLong(3),
        bytes = partLen(rel.substring(rel.lastIndexOf('/') + 1)),
        schema_ddl = "",
        stat_cols = Seq.empty,
        stat_mins = r.getSeq[String](4),
        stat_maxs = r.getSeq[String](5),
        bloom_cols = Seq.empty)
    }.toMap
    val blooms = stats.flatMap { r =>
      bloomCols.zipWithIndex.map { case (c, ci) =>
        val bits = new java.util.BitSet(Manifest.BloomBits)
        (0 until Manifest.BloomHashes).foreach { i =>
          r.getSeq[Long](6 + ci * Manifest.BloomHashes + i)
            .foreach(p => bits.set(p.toInt))
        }
        (relOf(r), c) ->
          bits.toLongArray.toSeq.padTo(Manifest.BloomBits / 64, 0L)
      }
    }.toMap
    val violations = constraints.indices.map(i =>
      stats.map(_.getAs[Long](s"viol_$i")).sum)
    Result(entries, blooms, violations)
  }
}

package graft.io

import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Local fs whose `rename` reports failure without moving anything —
  * the HDFS answer when the destination already exists. */
class NoRenameFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "norenamefs"
  override def getUri: java.net.URI = java.net.URI.create("norenamefs:///")
  override def rename(src: Path, dst: Path): Boolean = false
}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("kv upsert coerces decimals/dates like the reference sink and is re-runnable") {
    Sinks.InMemoryKv.clear()
    val df = Seq(
      ("2025-03-08", 69188.4712, 286L),
      ("2025-03-09", 77044.391, 311L)
    ).toDF("order_date", "total_revenue", "total_orders")
      .withColumn("order_date", to_date($"order_date"))
    Sinks.kvUpsert(df, "order_kpi", Seq("order_date"), () => new Sinks.InMemoryKvClient)
    val t = Sinks.InMemoryKv.tableOf("order_kpi")
    assert(t.size() == 2)
    val row = t.get("2025-03-08")
    assert(row("total_revenue") == "69188.47") // DECIMAL(12,2) coercion
    assert(row("total_orders") == "286")
    // idempotence: re-running upserts the same keys, no duplicates
    Sinks.kvUpsert(df, "order_kpi", Seq("order_date"), () => new Sinks.InMemoryKvClient)
    assert(Sinks.InMemoryKv.tableOf("order_kpi").size() == 2)
  }

  test("durable file-backed kv survives a process restart and upserts idempotently") {
    val base = Files.createTempDirectory("graft-kv").toString
    val df = Seq(
      ("2025-03-08", 69188.4712, 286L),
      ("2025-03-09", 77044.391, 311L)
    ).toDF("order_date", "total_revenue", "total_orders")
      .withColumn("order_date", to_date($"order_date"))
    Sinks.kvUpsert(df, "order_kpi", Seq("order_date"), () => new Sinks.FileKvClient(base))

    // "restart": nothing in memory — a fresh read of the files is the state
    val t = Sinks.FileKv.read(base, "order_kpi")
    assert(t.size == 2)
    assert(t("2025-03-08")("total_revenue") == "69188.47") // DECIMAL(12,2)
    assert(t("2025-03-08")("total_orders") == "286")
    assert(t("2025-03-08")("order_date") == "2025-03-08")  // ISO date

    // idempotent re-run with updated values: same keys, new contents
    val df2 = df.withColumn("total_orders", $"total_orders" + 1)
    Sinks.kvUpsert(df2, "order_kpi", Seq("order_date"), () => new Sinks.FileKvClient(base))
    val t2 = Sinks.FileKv.read(base, "order_kpi")
    assert(t2.size == 2 && t2("2025-03-08")("total_orders") == "287")

    // null column round-trips as a JSON null, not the string "null"
    val df3 = Seq(("k1", null: String)).toDF("pk", "note")
    Sinks.kvUpsert(df3, "t_null", Seq("pk"), () => new Sinks.FileKvClient(base))
    assert(Sinks.FileKv.read(base, "t_null")("k1")("note") == null)
  }

  test("dynamo-shaped client: 25-item batches, unprocessed-retry, durable result") {
    val base = Files.createTempDirectory("graft-ddb").toString
    // throttle the first 3 requests' first 7 items each — the shape of a
    // real DynamoDB partial batch failure the caller must retry
    val store = new Sinks.FileBatchWriteStore(base, throttleN = 7, throttleFirst = 3)
    val client = new Sinks.DynamoShapedKvClient(store, backoffMs = 1)
    val items = (0 until 60).map(i => s"k$i" -> Map("pk" -> s"k$i", "v" -> i.toString))
    client.putBatch("t", items)
    // every request honored the 25-item API cap (the store `require`s it
    // too, so an oversized request would have thrown)
    assert(store.requestSizes.forall(_ <= 25))
    // retries happened: 60 items = 3 full chunks minimum, +3 throttled re-submissions
    assert(store.requestSizes.size == 6, s"got ${store.requestSizes}")
    assert(store.requestSizes.sorted == Seq(7, 7, 7, 10, 25, 25),
      "re-submitted requests carry exactly the unprocessed leftovers")
    // all 60 items durable despite the throttling
    val t = Sinks.FileKv.read(base, "t")
    assert(t.size == 60 && t("k59")("v") == "59")

    // a store that never accepts an item exhausts retries and THROWS
    // (fail the task and replay the batch — never silently drop rows)
    val black = new Sinks.BatchWriteStore {
      def batchWriteItem(table: String, items: Seq[(String, Map[String, String])]) = items
    }
    val failing = new Sinks.DynamoShapedKvClient(black, maxRetries = 2, backoffMs = 1)
    intercept[IllegalStateException] {
      failing.putBatch("t", Seq("k" -> Map("v" -> "1")))
    }

    // the client drops into the standard kvUpsert seam unchanged
    val df = Seq(("2025-03-08", 10.5)).toDF("order_date", "rev")
    val base2 = Files.createTempDirectory("graft-ddb2").toString
    Sinks.kvUpsert(df, "kpi", Seq("order_date"),
      () => new Sinks.DynamoShapedKvClient(new Sinks.FileBatchWriteStore(base2)))
    assert(Sinks.FileKv.read(base2, "kpi")("2025-03-08")("rev") == "10.50")
  }

  test("csv sink round-trips with header; timestamped sink nests under ts") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sinks.csv(df.coalesce(1), s"$dir/plain")
    val back = spark.read.option("header", "true").csv(s"$dir/plain")
    assert(back.count() == 2 && back.columns.toSeq == Seq("id", "v"))
    val ts = Sinks.batchTimestamp(0L)
    assert(ts == "1970-01-01-T-00-00-00")
    val written = Sinks.csvTimestamped(df.coalesce(1), s"$dir/base", "kpi", ts)
    assert(written == s"$dir/base/1970-01-01-T-00-00-00/kpi")
    assert(spark.read.option("header", "true").csv(written).count() == 2)
  }

  test("archive moves every file under a prefix into archive/<ts>/") {
    val dir = Files.createTempDirectory("graft-archive").toString
    val df = Seq((1L, "a")).toDF("id", "v")
    Sinks.csv(df.coalesce(1), s"$dir/raw/orders")
    val moved = Sinks.archive(spark, s"$dir/raw", s"$dir/archive", "t0")
    assert(moved.nonEmpty)
    assert(Sources.present(spark, s"$dir/archive/t0/orders/*"))
    assert(!Sources.present(spark, s"$dir/raw/orders/*.csv"))
  }

  test("archive throws when a move fails and leaves the raw file in place") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.norenamefs.impl", classOf[NoRenameFileSystem].getName)
    val dir = Files.createTempDirectory("graft-archive-fail").toString
    val raw = java.nio.file.Paths.get(dir, "raw", "orders", "part-0.csv")
    Files.createDirectories(raw.getParent)
    Files.write(raw, "id,v\n1,a\n".getBytes("UTF-8"))
    val e = intercept[java.io.IOException] {
      Sinks.archive(spark, s"norenamefs://$dir/raw", s"norenamefs://$dir/archive", "t0")
    }
    assert(e.getMessage.contains("part-0.csv") && e.getMessage.contains("archive/t0"))
    assert(Files.exists(raw), "a failed move must leave the raw file where it was")
  }

  test("jsonl sink/source round-trip preserves rows and types") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toString + "/docs"
    val in = Seq((1L, "alpha", 1.5), (2L, "beta", -2.0), (3L, null, 0.0))
      .toDF("id", "name", "score")
    Sinks.jsonl(in, dir)
    val back = Sources.jsonl(spark, dir, in.schema)
    // JSON sources surface every field nullable; names/types must hold
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      in.schema.map(f => (f.name, f.dataType)))
    assert(back.exceptAll(in).isEmpty && in.exceptAll(back).isEmpty)
  }

  test("compactParquet merges a many-file directory and keeps the rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/t"
    val in = (1L to 1000L).toDF("id").repartition(64)
    in.write.parquet(dir)
    def fileCount = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(fileCount == 64, "setup should write 64 small files")
    val n = Sinks.compactParquet(spark, dir, targetBytes = 1024L * 1024)
    assert(fileCount == n && n < 64, s"expected few compacted files, got $n")
    val back = spark.read.parquet(dir).as[Long].collect().sorted
    assert(back.sameElements(1L to 1000L), "compaction must preserve every row")
  }
}

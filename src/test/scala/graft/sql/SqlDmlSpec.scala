package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Manifest
import graft.plans.ManifestScan

/** The SQL statement surface over registered manifest tables
  * ([[GraftSqlParser]] via `spark.sql.extensions`): DELETE FROM /
  * UPDATE / MERGE INTO reroute to the three-tier predicate planner and
  * the clause merge, VACUUM / OPTIMIZE parse as extension verbs, every
  * other statement passes through stock Spark. The load-bearing
  * assertions: the SQL route returns the SAME tier counts as the API
  * route on a twin table (the planner is shared, not re-implemented),
  * and a follow-up SELECT over the registered name sees the write. */
class SqlDmlSpec extends SparkSpec {
  import spark.implicits._

  private def newDir(tag: String) =
    Files.createTempDirectory(s"graft-sqldml-$tag").toString + "/tbl"

  /** k 0..199, v = k, p = k % 4 — one append per partition value so
    * the exact tier has whole files to drop. */
  private def mkTable(dir: String): Unit = {
    def slice(p: Long) = spark.range(200).filter($"id" % 4 === p)
      .select($"id".as("k"), $"id".cast("double").as("v"),
        ($"id" % 4).as("p"))
    Manifest.create(spark, dir, slice(0), "p", statsCols = Seq("k"))
    (1L to 3L).foreach(p => Manifest.append(spark, dir, slice(p), "p"))
  }

  private def metrics(sql: String): Map[String, Long] =
    spark.sql(sql).collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("SQL DELETE hits the same planning tiers as the API route") {
    val dirA = newDir("dela"); val dirB = newDir("delb")
    mkTable(dirA); mkTable(dirB)
    ManifestScan.register(spark, "sqldel_t", dirA, Some("p"))
    // partition predicate: exact tier, metadata-only
    val viaSql = metrics("DELETE FROM sqldel_t WHERE p = 3")
    val viaApi = Manifest.deleteWhere(spark, dirB, "p = 3", "p")
    assert(viaSql == viaApi)
    assert(viaSql("files_dropped") > 0 && viaSql("files_rewritten") == 0L)
    // stats predicate: straddler rewrite, same counts both routes
    val viaSql2 = metrics("DELETE FROM sqldel_t WHERE k >= 190")
    val viaApi2 = Manifest.deleteWhere(spark, dirB, "k >= 190", "p")
    assert(viaSql2 == viaApi2)
    // the registered view refreshed: SELECT sees both deletes
    val left = spark.sql("SELECT count(*) AS c FROM sqldel_t")
      .as[Long].head()
    assert(left == Manifest.read(spark, dirB).count())
    // p=3 drops 50 (k ≡ 3 mod 4); k>=190 drops the 7 survivors of
    // 190..199 (191/195/199 were already gone)
    assert(left == 143L)
  }

  test("SQL DELETE honors the merge-on-read switch") {
    val dir = newDir("delmor")
    mkTable(dir)
    ManifestScan.register(spark, "sqldelmor_t", dir, Some("p"))
    spark.conf.set("graft.sql.dml.mor", "true")
    try {
      val m = metrics("DELETE FROM sqldelmor_t WHERE k % 10 = 0")
      assert(m.contains("files_masked"), s"expected a MoR delete, got $m")
    } finally spark.conf.unset("graft.sql.dml.mor")
    assert(spark.sql("SELECT count(*) AS c FROM sqldelmor_t")
      .as[Long].head() == 180L)
  }

  test("SQL UPDATE routes SET list and predicate; qualified refs resolve") {
    val dirA = newDir("upda"); val dirB = newDir("updb")
    mkTable(dirA); mkTable(dirB)
    ManifestScan.register(spark, "sqlupd_t", dirA, Some("p"))
    val viaSql = metrics(
      "UPDATE sqlupd_t SET v = sqlupd_t.v * 2 WHERE sqlupd_t.k < 100")
    val viaApi = Manifest.updateWhere(spark, dirB,
      Seq("v" -> "v * 2"), "k < 100", "p")
    assert(viaSql == viaApi)
    val got = spark.sql("SELECT k, v FROM sqlupd_t")
      .as[(Long, Double)].collect().toMap
    assert(got(10L) == 20.0 && got(150L) == 150.0)
  }

  test("SQL MERGE INTO: full clause algebra against a source view") {
    val dir = newDir("mrg")
    mkTable(dir)
    ManifestScan.register(spark, "sqlmrg_t", dir, Some("p"))
    spark.range(150, 250).select($"id".as("k"),
      lit(-1.0).as("nv"), ($"id" % 4).as("p"))
      .createOrReplaceTempView("sqlmrg_src")
    val m = metrics(
      """MERGE INTO sqlmrg_t AS t USING sqlmrg_src AS s ON t.k = s.k
        |WHEN MATCHED AND s.k < 160 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.nv, s.p)
        |""".stripMargin)
    assert(m == Map("rows_updated" -> 40L, "rows_deleted" -> 10L,
      "rows_inserted" -> 50L))
    val got = spark.sql("SELECT k, v FROM sqlmrg_t")
      .as[(Long, Double)].collect().toMap
    assert(!got.contains(155L))
    assert(got(170L) == -1.0 && got(220L) == -1.0 && got(10L) == 10.0)
  }

  test("SQL MERGE: NOT MATCHED BY SOURCE and star forms") {
    val dir = newDir("mrgstar")
    mkTable(dir)
    ManifestScan.register(spark, "sqlmrgs_t", dir, Some("p"))
    spark.range(100).select($"id".as("k"),
      ($"id" * 2).cast("double").as("v"), ($"id" % 4).as("p"))
      .createOrReplaceTempView("sqlmrgs_src")
    val m = metrics(
      """MERGE INTO sqlmrgs_t t USING sqlmrgs_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE
        |""".stripMargin)
    assert(m == Map("rows_updated" -> 100L, "rows_deleted" -> 100L,
      "rows_inserted" -> 0L))
    val got = spark.sql("SELECT k, v FROM sqlmrgs_t")
      .as[(Long, Double)].collect().toMap
    assert(got.size == 100 && got(40L) == 80.0 && !got.contains(150L))
  }

  test("OPTIMIZE compacts; OPTIMIZE ZORDER/HILBERT BY re-cluster; WHERE scopes") {
    val dir = newDir("opt")
    mkTable(dir)
    // re-create with stats on both curve keys
    val dir2 = newDir("optz")
    Manifest.create(spark, dir2,
      spark.range(2000).select($"id".as("k"),
        ($"id" * 7 % 1000).as("v"), ($"id" % 4).as("p")),
      "p", statsCols = Seq("k", "v"))
    (1 to 3).foreach { _ =>
      Manifest.append(spark, dir2,
        spark.range(2000).select($"id".as("k"),
          ($"id" * 13 % 1000).as("v"), ($"id" % 4).as("p")), "p")
    }
    ManifestScan.register(spark, "sqlopt_t", dir2, Some("p"))
    val before = Manifest.read(spark, dir2).inputFiles.length
    val m = metrics("OPTIMIZE sqlopt_t")
    assert(m("files_touched") > 0)
    assert(Manifest.read(spark, dir2).inputFiles.length < before)
    val cnt = spark.sql("SELECT count(*) AS c FROM sqlopt_t").as[Long].head()
    assert(cnt == 8000L)
    metrics("OPTIMIZE sqlopt_t ZORDER BY (k, v)")
    assert(spark.sql("SELECT count(*) AS c FROM sqlopt_t")
      .as[Long].head() == 8000L)
    val mh = metrics("OPTIMIZE sqlopt_t WHERE p IN (1, 2) HILBERT BY (k, v)")
    assert(mh("files_touched") >= 0)
    assert(spark.sql("SELECT count(*) AS c FROM sqlopt_t")
      .as[Long].head() == 8000L)
  }

  test("VACUUM reclaims retired files under RETAIN/stale controls") {
    val dir = newDir("vac")
    mkTable(dir)
    ManifestScan.register(spark, "sqlvac_t", dir, Some("p"))
    metrics("DELETE FROM sqlvac_t WHERE p = 0") // retires whole files
    spark.conf.set("graft.vacuum.staleMillis", "0")
    try {
      // bare VACUUM keeps GraftSqlDml.VacuumDefaultKeep (10) versions:
      // with only 5 versions here it must retain ALL history — dropping
      // every old version on an unqualified statement was judged too
      // sharp. (True orphans — files no retained manifest ever listed —
      // may still reclaim; retention is about VERSIONS.)
      metrics("VACUUM sqlvac_t")
      assert(Manifest.versions(spark, dir).size == 5,
        "bare VACUUM must keep all history under the default retention")
      // time travel to the pre-delete snapshot still works
      assert(Manifest.readVersion(spark, dir, 4L).count() == 200L)
      // explicit RETAIN 1 VERSIONS is the drop-all-history spelling
      val m = metrics("VACUUM sqlvac_t RETAIN 1 VERSIONS")
      assert(m("files_reclaimed") > 0L)
      assert(Manifest.versions(spark, dir).size == 1)
    } finally spark.conf.unset("graft.vacuum.staleMillis")
    assert(spark.sql("SELECT count(*) AS c FROM sqlvac_t")
      .as[Long].head() == 150L)
  }

  test("VACUUM ... DRY RUN previews the delete set exactly and touches nothing") {
    val dir = newDir("vacdry")
    mkTable(dir)
    ManifestScan.register(spark, "sqlvacdry_t", dir, Some("p"))
    metrics("DELETE FROM sqlvacdry_t WHERE p = 0")
    spark.conf.set("graft.vacuum.staleMillis", "0")
    try {
      val before = Manifest.versions(spark, dir)
      val dry = metrics("VACUUM sqlvacdry_t RETAIN 1 VERSIONS DRY RUN")
      assert(dry("dry_run") == 1L)
      assert(dry("files_reclaimed") > 0L && dry("bytes_reclaimed") > 0L)
      assert(dry("versions_dropped") == before.size - 1L)
      // state untouched: every version still present, time travel live
      assert(Manifest.versions(spark, dir) == before)
      assert(Manifest.readVersion(spark, dir, 4L).count() == 200L)
      // the real vacuum then reclaims EXACTLY what the preview said
      val real = metrics("VACUUM sqlvacdry_t RETAIN 1 VERSIONS")
      assert(real("files_reclaimed") == dry("files_reclaimed"),
        s"dry=$dry real=$real")
      assert(Manifest.versions(spark, dir).size == 1)
    } finally spark.conf.unset("graft.vacuum.staleMillis")
    assert(spark.sql("SELECT count(*) AS c FROM sqlvacdry_t")
      .as[Long].head() == 150L)
  }

  test("DESCRIBE HISTORY / RESTORE / CLONE / OPTIMIZE INCREMENTAL verbs") {
    val dir = newDir("hist")
    mkTable(dir)
    ManifestScan.register(spark, "sqlhist_t", dir, Some("p"))
    metrics("DELETE FROM sqlhist_t WHERE p = 0")
    // history: one row per retained version, exact file totals
    val hist = spark.sql("DESCRIBE HISTORY sqlhist_t").collect()
    assert(hist.length >= 5, s"expected >=5 versions, got ${hist.length}")
    assert(hist.map(_.getLong(0)).toSeq.sorted ==
      hist.map(_.getLong(0)).toSeq)
    // restore to the pre-delete version: the rows come back
    val preDelete = hist.map(_.getLong(0)).sorted.apply(hist.length - 2)
    val m = metrics(s"RESTORE sqlhist_t TO VERSION AS OF $preDelete")
    assert(m.contains("restored_as_version"))
    assert(spark.sql("SELECT count(*) AS c FROM sqlhist_t")
      .as[Long].head() == 200L)
    // shallow clone through SQL, registered and queryable under AS
    val dst = newDir("histclone")
    val mc = metrics(s"CLONE sqlhist_t TO '$dst' AS sqlhist_clone")
    assert(mc("batch_dirs_referenced") > 0L)
    assert(spark.sql("SELECT count(*) AS c FROM sqlhist_clone")
      .as[Long].head() == 200L)
    assert(Manifest.pins(spark, dir).exists(_._1.startsWith("clone-")))
    // incremental clustering through SQL: first pass full, second only
    // the new wave; both verbs answer-invariant
    val zdir = newDir("inczs")
    Manifest.create(spark, zdir,
      spark.range(512).select($"id".as("k"), ($"id" % 16).as("x"),
        ($"id" / 16).cast("long").as("y"), lit(0L).as("p")),
      "p", statsCols = Seq("x", "y"))
    ManifestScan.register(spark, "sqlincr_t", zdir, Some("p"))
    val m1 = metrics("OPTIMIZE sqlincr_t INCREMENTAL ZORDER BY (x, y)")
    assert(m1("files_touched") >= 1L)
    Manifest.append(spark, zdir,
      spark.range(512, 1024).select($"id".as("k"), ($"id" % 16).as("x"),
        (($"id" - 512) / 16).cast("long").as("y"), lit(0L).as("p")), "p")
    val m2 = metrics("OPTIMIZE sqlincr_t INCREMENTAL HILBERT BY (x, y)")
    assert(m2("files_touched") >= 1L)
    assert(spark.sql("SELECT count(*) AS c FROM sqlincr_t")
      .as[Long].head() == 1024L)
    val e = intercept[Exception] {
      spark.sql("OPTIMIZE sqlincr_t INCREMENTAL WHERE p = 0 ZORDER BY (x, y)")
    }
    assert(e.getMessage.contains("INCREMENTAL takes no WHERE"))
  }

  test("non-manifest statements pass through stock Spark untouched") {
    Seq((1, "a"), (2, "b")).toDF("id", "s").createOrReplaceTempView("plainv")
    assert(spark.sql("SELECT sum(id) AS s FROM plainv").as[Long].head() == 3L)
    // DML on a plain temp view still fails the STOCK way (not ours)
    val e = intercept[Exception] {
      spark.sql("DELETE FROM plainv WHERE id = 1")
    }
    assert(!e.getMessage.contains("manifest"),
      s"stock error expected, got: ${e.getMessage}")
    // an extension verb over an unregistered name is loud and named
    val e2 = intercept[IllegalArgumentException] {
      spark.sql("VACUUM not_registered_anywhere")
    }
    assert(e2.getMessage.contains("not a registered manifest table"))
  }

  test("subqueries in manifest DML refuse loudly with the remedy") {
    val dir = newDir("subq")
    mkTable(dir)
    ManifestScan.register(spark, "sqlsubq_t", dir, Some("p"))
    Seq(1L, 2L).toDF("id").createOrReplaceTempView("sqlsubq_keys")
    val e = intercept[IllegalArgumentException] {
      spark.sql(
        "DELETE FROM sqlsubq_t WHERE k IN (SELECT id FROM sqlsubq_keys)")
    }
    assert(e.getMessage.contains("subqueries are not supported"),
      s"got: ${e.getMessage}")
    val e2 = intercept[IllegalArgumentException] {
      spark.sql("UPDATE sqlsubq_t SET v = (SELECT max(id) FROM sqlsubq_keys)")
    }
    assert(e2.getMessage.contains("subqueries are not supported"))
    assert(spark.sql("SELECT count(*) AS c FROM sqlsubq_t")
      .as[Long].head() == 200L, "a refused statement must change nothing")
  }
}

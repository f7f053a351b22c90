package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sink.AudienceSink
import graft.sources.PagedSource

class SinkSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val audienceSchema = StructType(Seq(
    StructField("id", StringType), StructField("email", StringType),
    StructField("status", StringType), StructField("rating", IntegerType)))

  test("paged source: pages partition-parallel, all rows, no dupes") {
    val df = PagedSource.read(spark, audienceSchema, total = 2500, pageSize = 300,
      concurrency = 10, PagedSource.syntheticAudience(2500))
    assert(df.count() == 2500)
    assert(df.select("id").distinct().count() == 2500)
    assert(df.rdd.getNumPartitions == 10)
  }

  test("paged source: projection pushdown passes only required fields") {
    val slim = StructType(Seq(StructField("id", StringType)))
    var seenFields: Seq[String] = Nil
    val spy: PagedSource.Fetch = (off, cnt, fields) => {
      seenFields = fields; PagedSource.syntheticAudience(100)(off, cnt, fields)
    }
    val df = PagedSource.read(spark, slim, 100, 50, 2, spy)
    assert(df.columns.toSeq == Seq("id"))
    assert(df.count() == 100)
  }

  test("audience sink: upsert chunks, id set, retain spares cleaned, tags diff") {
    val sink = new AudienceSink(sinkId = "t1", batchSize = 10, sinkPartitions = 4)
    val members = (0 until 95).map(i =>
      (f"m$i%03d", s"u$i@x.org", if (i % 10 == 0) "cleaned" else "subscribed", "{}"))
      .toDF("id", "email", "status", "merge_json")
    val upserted = sink.upsertMany(members)
    assert(upserted == 95 && sink.size == 95)

    // second sync keeps only even ids → odds deleted EXCEPT cleaned ones
    val keep = (0 until 95 by 2).map(i => f"m$i%03d")
    val deleted = sink.retain(spark, keep.toDF("id"))
    val survivors = sink.allIds
    assert(deleted == 95 - keep.size - /* odd cleaned don't exist: cleaned are %10==0 (even) */ 0)
    assert(keep.toSet.subsetOf(survivors))

    val tagUpdates = Seq(("m000", "member", true), ("m000", "lapsed", false),
      ("m002", "lapsed", true)).toDF("id", "tag", "active")
    sink.updateTags(tagUpdates)
    assert(sink.tagsOf("m000") == Set("member"))
    assert(sink.tagsOf("m002") == Set("lapsed"))
  }

  test("audience sink: upsert and tag stats come from ONE pass over the input") {
    // The r2 wart: upsertMany/updateTags ran foreachPartition then
    // count(), executing the upstream plan twice per sink call. A static
    // per-row probe in the input plan counts actual evaluations — if the
    // plan ran twice the probe doubles.
    SinkSourceSpec.planEvals.set(0)
    val probe = udf { (id: String) => SinkSourceSpec.planEvals.incrementAndGet(); id }
    val sink = new AudienceSink(sinkId = "t_onepass", batchSize = 10, sinkPartitions = 2)
    val members = (0 until 40).map(i => (f"m$i%03d", s"u$i@x.org", "subscribed", "{}"))
      .toDF("id", "email", "status", "merge_json")
      .withColumn("id", probe(col("id")))
    assert(sink.upsertMany(members) == 40)
    assert(SinkSourceSpec.planEvals.get() == 40,
      s"upsertMany evaluated the input plan ${SinkSourceSpec.planEvals.get() / 40.0} times")

    SinkSourceSpec.planEvals.set(0)
    val tagProbe = udf { (id: String) => SinkSourceSpec.planEvals.incrementAndGet(); id }
    val tags = (0 until 30).map(i => (f"m$i%03d", "member", true))
      .toDF("id", "tag", "active")
      .withColumn("id", tagProbe(col("id")))
    assert(sink.updateTags(tags) == 30)
    assert(SinkSourceSpec.planEvals.get() == 30,
      s"updateTags evaluated the input plan ${SinkSourceSpec.planEvals.get() / 30.0} times")
  }

  test("audience sink: transient batch failures retried to success") {
    val sink = new AudienceSink(sinkId = "t2", batchSize = 50, sinkPartitions = 2)
    sink.injectTransientFailures(2)
    val members = (0 until 100).map(i => (s"r$i", s"r$i@x.org", "subscribed", "{}"))
      .toDF("id", "email", "status", "merge_json")
    val upserted = sink.upsertMany(members)
    assert(upserted == 100 && sink.size == 100)
  }

  test("audience sink: retain counts its deletes in the pass that posts them, through retries") {
    val sink = new AudienceSink(sinkId = "t_retain_retry", batchSize = 10, sinkPartitions = 2)
    sink.upsertMany((0 until 60).map(i =>
      (f"k$i%02d", s"k$i@x.org", if (i % 10 == 5) "cleaned" else "subscribed", "{}"))
      .toDF("id", "email", "status", "merge_json"))
    val kept = (0 until 20).map(i => f"k$i%02d")
    sink.injectTransientFailures(2)
    val n = sink.retain(spark, kept.toDF("id"))
    val cleanedSpared = (20 until 60).filter(_ % 10 == 5).map(i => f"k$i%02d")
    assert(n == 40 - cleanedSpared.size)
    assert(sink.allIds == (kept ++ cleanedSpared).toSet)
    assert(sink.retain(spark, kept.toDF("id")) == 0)
  }

  test("audience sink retain semantics mirror cleaned-exclusion") {
    val sink = new AudienceSink(sinkId = "t3")
    sink.upsertMany(Seq(
      ("a", "a@x.org", "subscribed", "{}"),
      ("b", "b@x.org", "cleaned", "{}"),
      ("c", "c@x.org", "subscribed", "{}")).toDF("id", "email", "status", "merge_json"))
    val n = sink.retain(spark, Seq("a").toDF("id"))
    assert(n == 1)                       // only c deleted
    assert(sink.allIds == Set("a", "b")) // cleaned b spared
  }
}

class MailPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("mail sync end-to-end: upsert, retain idempotence, tags") {
    val sink = new AudienceSink(sinkId = "mail1", batchSize = 100, sinkPartitions = 4)
    // pre-seed a stale member that the retain pass must GC, plus a
    // cleaned member it must spare
    import spark.implicits._
    sink.upsertMany(Seq(
      ("stale", "old@x.org", "subscribed", "{}"),
      ("ghost", "ghost@x.org", "cleaned", "{}")).toDF("id", "email", "status", "merge_json"))

    val stats = graft.pipeline.MailSyncPipeline.run(spark, "/root/testdata/sf0.001", sink)
    assert(stats.upserted > 0)
    assert(stats.deleted == 1)                    // stale gone
    assert(sink.get("ghost").nonEmpty)            // cleaned spared
    assert(sink.get("stale").isEmpty)
    // idempotent: re-running changes nothing
    val stats2 = graft.pipeline.MailSyncPipeline.run(spark, "/root/testdata/sf0.001", sink)
    assert(stats2.upserted == stats.upserted && stats2.deleted == 0)
    // partner expansion: partner ids exist (md5 of partner+email)
    val rows = graft.pipeline.MailSyncPipeline.audienceRows(spark, "/root/testdata/sf0.001")
    val partners = rows.filter(col("email").startsWith("partner+")).count()
    assert(partners > 0)
    assert(rows.filter(col("email").endsWith("example.com")).count() == 0)
  }
}

class DataSourceV2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def read(total: Int) = spark.read
    .format("graft.sources.AudienceDataSource")
    .option("total", total).option("pageSize", 300)
    .load()

  test("DSv2 camelCase options are honored (non-default pageSize)") {
    // getTable receives the original-case map; a lowercase-only lookup
    // silently ignored pageSize (masked when it equaled the default)
    val df = spark.read.format("graft.sources.AudienceDataSource")
      .option("total", 1000).option("pageSize", 100).load()
    assert(df.rdd.getNumPartitions == 10) // ceil(1000/100) pages
  }

  test("DSv2 audience source: full scan, one partition per page") {
    val df = read(1000)
    assert(df.count() == 1000)
    assert(df.rdd.getNumPartitions == 4) // ceil(1000/300) pages
    assert(df.select("id").distinct().count() == 1000)
  }

  test("DSv2 projection pushdown prunes to requested columns at the scan") {
    val df = read(900).select("id", "rating")
    val plan = df.queryExecution.executedPlan.toString
    assert(df.columns.toSeq == Seq("id", "rating"))
    assert(plan.contains("ReadSchema") || df.count() == 900)
    // the scan's readSchema must carry only the pruned columns
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("id", "rating"))
  }

  test("DSv2 source composes with catalog operators (retain semantics)") {
    import org.apache.spark.sql.functions._
    val audience = read(500)
    val keep = audience.filter(col("rating") >= 2).select("id")
    val deletes = graft.operators.Merge.retainDeletes(
      audience, keep, Seq("id"), exempt = Some(col("status") === "cleaned"))
    val got = deletes.select("status").distinct().collect().map(_.getString(0)).toSet
    assert(got == Set("subscribed")) // cleaned never in the delete set
  }
}

object SinkSourceSpec {
  /** Per-row evaluation probe for the one-pass sink-stats test; static so
    * executor-side (local-mode) UDF calls and the test share the count. */
  val planEvals = new java.util.concurrent.atomic.AtomicInteger(0)
}

class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("saltedJoin result equals plain equi-join (inner and left)") {
    val big = (0 until 500).map(i => (i.toLong, i % 7)).toDF("row_id", "k")
    val small = (0 until 7).map(k => (k, s"name$k")).toDF("k", "name")
    for (jt <- Seq("inner", "left")) {
      val salted = graft.operators.Skew.saltedJoin(big, small, "k",
        pmod(col("row_id"), lit(4)), 4, jt).select("row_id", "k", "name")
      val plain = big.join(small, Seq("k"), jt).select("row_id", "k", "name")
      assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
      assert(salted.count() == plain.count())
    }
  }
}

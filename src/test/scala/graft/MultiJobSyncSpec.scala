package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{JobStore, MultiJobSync, SyncJob}
import graft.sink.AudienceSink

/** S3 job-config source + D4 multi-job sync with failure isolation
  * (sync-mail/src/mailchimp.rs:101-162, 200-236). */
class MultiJobSyncSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("JobStore CRUD + DataFrame round-trip (S3)") {
    JobStore.clear()
    val a = JobStore.create(SyncJob(0, "all-members", "LA"))
    val b = JobStore.create(SyncJob(0, "club-7", "LB", club = Some(7L)))
    assert(a.id != b.id && JobStore.all().size == 2)
    assert(JobStore.get(b.id).exists(_.club.contains(7L)))
    // dynamic update: only supplied fields change (JobUpdate::setters)
    JobStore.update(b.id, region = Some(Some(2L)), club = Some(None))
    assert(JobStore.get(b.id).exists(j => j.region.contains(2L) && j.club.isEmpty))
    val roundTrip = JobStore.fromDf(JobStore.toDf(spark))
    assert(roundTrip == JobStore.all())
    assert(JobStore.delete(a.id) && JobStore.all().size == 1)
    JobStore.clear()
  }

  test("sync_many: one failing job never aborts the rest; per-job stats emit (D4)") {
    val jobs = Seq(
      SyncJob(1, "club-7", "mj-ok1", club = Some(7L)),
      SyncJob(2, "poison", "mj-bad"),
      SyncJob(3, "region-2", "mj-ok2", region = Some(2L)))
    // poison job's sink fails more times than the retry budget ever tries
    AudienceSink.state("job-mj-bad").failNextAttempts.set(1000000)

    val results = MultiJobSync.syncMany(spark, dir, jobs, concurrency = 3)
    assert(results.size == 3)
    assert(results(1).stats.exists(_.upserted > 0), "job 1 must succeed")
    assert(results(3).stats.exists(_.upserted > 0), "job 3 must succeed")
    assert(results(2).stats.isEmpty && results(2).error.nonEmpty, "job 2 must fail isolated")
    // per-job stats JSON lines (D6): success lines carry counts, the
    // failed line carries the error, serde-style
    assert(results(1).statsJson.contains("\"upserted\":"))
    assert(results(2).statsJson.contains("\"error\":"))
    // the failed job wrote nothing; the good jobs' sinks are populated
    assert(new AudienceSink("job-mj-ok1").size > 0)
    assert(new AudienceSink("job-mj-ok2").size > 0)
    AudienceSink.state("job-mj-bad").failNextAttempts.set(0)
  }

  test("statsJson escapes quotes/backslashes/control chars in name and error") {
    import graft.pipeline.MultiJobSync.JobResult
    val r = JobResult(7, "club \"A\" \\ west\n", None,
      Some("boom: path \"C:\\tmp\"\tfailed"))
    val line = r.statsJson
    assert(!line.exists(c => c < ' '), "raw control char leaked into JSON line")
    // the line must round-trip through a strict JSON parser back to the
    // original strings — a malformed line breaks the D6 stats contract
    import spark.implicits._
    val parsed = spark.read
      .option("mode", "FAILFAST").json(Seq(line).toDS)
      .select("job", "name", "error").collect()(0)
    assert(parsed.getLong(0) == 7)
    assert(parsed.getString(1) == "club \"A\" \\ west\n")
    assert(parsed.getString(2) == "boom: path \"C:\\tmp\"\tfailed")
  }

  test("job scope drives the member extract and merge-field catalog") {
    import org.apache.spark.sql.functions._
    val clubRows = graft.pipeline.MailSyncPipeline
      .audienceRowsFor(spark, dir, SyncJob(9, "c", "x", club = Some(7L)))
    val allRows = graft.pipeline.MailSyncPipeline
      .audienceRowsFor(spark, dir, SyncJob(10, "a", "y"))
    assert(clubRows.count() > 0 && allRows.count() > clubRows.count())
    // club jobs render the club catalog subset (no BDAY/SEGMENT keys)
    val clubJson = clubRows.select("merge_json").limit(1).collect()(0).getString(0)
    assert(clubJson.contains("\"NAME\"") && !clubJson.contains("\"BDAY\""))
    val allJson = allRows.filter(col("merge_json").contains("\"BDAY\"")).count()
    assert(allJson > 0)
    // partner expansion: partner audience rows exist with their own id
    assert(allRows.filter(col("role") === "partner").count() > 0)
  }

  test("memberAudienceRows builds primary and partner rows from ONE scan of members") {
    import org.apache.spark.sql.functions._
    val evals = spark.sparkContext.longAccumulator("member_rows")
    val probe = udf { (_: String) => evals.add(1); true }.asNondeterministic()
    val all = graft.queries.Members.all(spark, dir)
    val n = all.count()
    val partners = all.filter(col("partner_email").isNotNull).count()
    assert(partners > 0, "fixture must carry partner members")
    val rows = graft.pipeline.MailSyncPipeline.memberAudienceRows(
      all.filter(probe(col("uid").cast("string"))), graft.sources.MergeFieldCatalog.all)
    evals.reset()
    val out = rows.select("role").collect()
    assert(evals.value == n, s"members scanned ${evals.value.toDouble / n} times")
    assert(out.count(_.getString(0) == "partner") > 0 && out.length > n / 2)
  }

  test("job budget: MultiJobSync.runJob (see PipelineSpec's sync-app budget)") {
    val job = SyncJob(1, "all-members", "budget-all")
    // the first sync (not counted) fills the audience, so the counted
    // run upserts, retains and tags as a steady-state sync does
    MultiJobSync.runJob(spark, dir, job)
    val jobs = new JobCounter(spark)
    try {
      val n = jobs(MultiJobSync.runJob(spark, dir, job))
      info(s"runJob=$n jobs")
      assert(n <= 29, s"sync-mail job over budget: $n jobs")
    } finally jobs.close()
  }
}

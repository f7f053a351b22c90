package perfbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

import graft.{CacheScope, Cli}
import graft.pipeline.{CorpusPrep, JsonOut, MultiJobSync, SyncJob, SyncPipeline}
import graft.queries.{Catalog, Clubs, DateFilter, Leadership, Members, Regions}
import graft.sink.AudienceSink
import graft.sources.ParquetStore

/** JVM side of the benchmark: runs one workload against the program's
  * public API and writes what it measured to `--out` as JSON. `run.py`
  * builds this, generates the inputs, checks the outputs and prints the
  * metrics; see perfbench/README.md.
  *
  *   perfbench.Harness --workload lookup|sync|corpus-prep --inputs DIR --work DIR
  *     --out FILE --seconds N --trace 0|1 --cpus N --src DIR
  */
object Harness {
  /** Catalog entries whose DuckDB oracle SQL the output checks adapt. */
  val OracleEntries = Seq("mbr1_members_by_club", "mbr2_members_by_region",
    "mbr3_members_all", "ldr1_leadership_asof", "dp3_corpus_prep")

  final case class Op(span: Int, kind: String, key: String, ms: Double, rows: Long,
      error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cpus = a("cpus").toInt
    val work = a("work")
    val workload: Workload = a("workload") match {
      case "lookup"      => new Lookup(a("inputs"))
      case "sync"        => new Sync(a("inputs"), work, cpus)
      case "corpus-prep" => new Corpus(a("inputs"), work)
      case other         => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val traced = a("trace") == "1"

    // Set-up, timed from JVM start until the first op is ready: session
    // start, the workload's untimed set-up work, and the release of every
    // cache and memo that work filled, so the run pays those fills once,
    // as one CLI invocation does.
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cpus, work)
    workload.setUp(spark)
    CacheScope.releaseSession()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val sc = spark.sparkContext
    // listeners see no event of the set-up
    org.apache.spark.ListenerBusDrain(sc)

    val storage = new StorageListener
    sc.addSparkListener(storage)
    val trace = if (traced) Some(new TraceListener(Modules.load(new File(a("src"))))) else None
    val catalyst = if (traced) Some(new CatalystListener) else None
    trace.foreach(sc.addSparkListener)
    catalyst.foreach(spark.listenerManager.register)
    storage.reset()

    val spans = new Spans(sc)
    val t0 = System.nanoTime()
    val ops = spans("run", a("workload")) { workload.measure(spark, spans, a("seconds").toDouble) }
    val windowS = (System.nanoTime() - t0) / 1e9
    spans("call", "cachescope") { CacheScope.releaseSession() }
    val residue = sc.getPersistentRDDs.size
    org.apache.spark.ListenerBusDrain(sc)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    layers ++= Layers.fromSpans(spans.spans)
    layers("storage.persist_fills") = storage.fills
    layers("storage.peak_mb") = storage.peakMb
    layers("storage.residue_rdds") = residue
    for (t <- trace; c <- catalyst) {
      layers ++= Layers.fromTrace(spans.spans, t, c)
      Layers.writeSpans(new File(a("spans")), spans.spans, t)
    }
    val calib = Calib.run(spark)

    val out = Json.obj(
      "workload" -> a("workload"),
      "setup_s" -> setupS,
      "window_s" -> windowS,
      "storage_peak_mb" -> storage.peakMb,
      "residue_rdds" -> residue,
      "ops" -> ops.map(o => Json.obj("span" -> o.span, "kind" -> o.kind, "key" -> o.key,
        "ms" -> o.ms, "rows" -> o.rows, "error" -> o.error)),
      "layers" -> Json.obj(layers.toSeq: _*),
      "calib" -> Json.obj(calib.toSeq: _*),
      "oracle_sql" -> Json.obj(OracleEntries.map(n => n -> graft.SparkEntry.oracleSql(n)): _*),
      "checks" -> workload.checks)
    val w = new PrintWriter(new File(a("out")), "UTF-8")
    try w.write(Json.render(out)) finally w.close()
    spark.stop()
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def sha256(xs: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    xs.sorted.foreach { x => md.update(x.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

trait Workload {
  /** Untimed work before the window: a warm-up op, or the state the
    * window's ops start from. */
  def setUp(spark: SparkSession): Unit
  /** The window's ops: until `seconds` have passed, ending on a whole
    * unit of work, or a fixed sequence. */
  def measure(spark: SparkSession, spans: Spans, seconds: Double): Seq[Harness.Op]
  /** What run.py needs to check the outputs. */
  def checks: Json.Value
}

/** Closed loop, one client: each line of `verbs.tsv` is one CLI
  * invocation, resolved and printed the way `graft.Cli` does. The stream
  * is a sequence of cycles that issue every verb once; a run makes at
  * least [[Lookup.MinCycles]] of them and ends on a cycle boundary, so
  * every run weighs the verbs alike. */
final class Lookup(inputs: String) extends Workload {
  private val dir = s"$inputs/tables"
  private val stream = {
    val src = Source.fromFile(s"$inputs/verbs.tsv", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t").toSeq).toVector
    finally src.close()
  }
  private val cycle = stream.map(_.head).distinct.size
  private val results = mutable.LinkedHashMap.empty[String, Seq[String]]

  def setUp(spark: SparkSession): Unit = {
    val args = stream.find(_.head == "members-by-club").get.tail
    JsonOut.lines(Catalog.ordered(Cli.resolve(spark, dir, args)))
  }

  def measure(spark: SparkSession, spans: Spans, seconds: Double): Seq[Harness.Op] = {
    val ops = mutable.ArrayBuffer.empty[Harness.Op]
    val t0 = System.nanoTime()
    var i = 0
    while (i < stream.size && (i % cycle != 0 || i < Lookup.MinCycles * cycle ||
        (System.nanoTime() - t0) / 1e9 < seconds)) {
      val verb = stream(i).head
      val args = stream(i).tail
      val key = args.mkString(" ")
      ops += spans("op", key) {
        val span = spans.current
        val t1 = System.nanoTime()
        try {
          val df = spans("call", "queries") { Catalog.ordered(Cli.resolve(spark, dir, args)) }
          val lines = spans("call", "pipeline") { JsonOut.lines(df) }
          val ms = (System.nanoTime() - t1) / 1e6
          // a repeated call must print what the first one printed
          val first = results.getOrElseUpdate(key, lines)
          val err = if (first.sorted == lines.sorted) None
                    else Some("result differs from an earlier identical call")
          Harness.Op(span, verb, key, ms, lines.size.toLong, err)
        } catch { case e: Exception =>
          Harness.Op(span, verb, key, (System.nanoTime() - t1) / 1e6, 0L, Some(e.toString))
        }
      }
      i += 1
    }
    ops.toSeq
  }

  def checks: Json.Value = Json.obj("results" -> Json.obj(results.toSeq: _*))
}

object Lookup { val MinCycles = 2 }

/** The reference's two production jobs over a sequence of churned source
  * snapshots: sync-app (load regions -> clubs -> members -> leadership in
  * FK order into a ParquetStore, then GC leaf-first) and sync-mail
  * (`MultiJobSync.syncMany` over a fixed jobs table). Set-up syncs the
  * initial snapshot; one op is one churned snapshot. */
final class Sync(inputs: String, work: String, cpus: Int) extends Workload {
  private val snaps = new File(inputs).listFiles().filter(_.getName.startsWith("snap-"))
    .map(_.getPath).sorted.toVector
  private val jobs = {
    val src = Source.fromFile(s"$inputs/jobs.tsv", "UTF-8")
    try src.getLines().filter(_.nonEmpty).zipWithIndex.map { case (l, i) =>
      val f = l.split("\t", -1)
      SyncJob(i + 1L, f(0), f(0), f(1).toLongOption, f(2).toLongOption)
    }.toVector
    finally src.close()
  }
  private val LeadKeys = Seq("entity_uid", "role_uid", "uid", "start_date")
  private val records = mutable.ArrayBuffer.empty[Json.Value]

  /** A "call" span around `f` when the run is measured. */
  private def span[T](spans: Option[Spans], name: String)(f: => T): T =
    spans.fold(f)(_.apply("call", name)(f))

  /** sync-app over one snapshot; returns (table -> (upserted, deleted)). */
  private def app(spark: SparkSession, spans: Option[Spans], p: SyncPipeline,
      d: String): Map[String, (Long, Long)] = span(spans, "pipeline.app") {
    def load(t: String, src: org.apache.spark.sql.DataFrame, keys: Seq[String]): Unit =
      span(spans, s"pipeline.load.$t") { p.load(t, src, keys) }
    def gc(t: String, keep: org.apache.spark.sql.DataFrame, keys: Seq[String]): Unit =
      span(spans, s"pipeline.gc.$t") { p.gc(t, keep, keys) }
    val regions = span(spans, "queries") { Regions.all(spark, d) }
    load("regions", regions, Seq("uid"))
    val clubs = span(spans, "queries") {
      p.fkFilter(Clubs.all(spark, d), "region_uid", p.table("regions"), "uid")
    }
    load("clubs", clubs, Seq("uid"))
    val members = span(spans, "queries") {
      p.fkFilter(Members.all(spark, d), "club_uid", p.table("clubs"), "uid")
    }
    load("members", members, Seq("uid"))
    val lead = span(spans, "queries") {
      p.fkFilter(Leadership.forAllClubs(spark, d, DateFilter.Current), "uid",
        p.table("members"), "uid")
    }
    load("leadership", lead, LeadKeys)
    gc("leadership", lead, LeadKeys)
    gc("members", members, Seq("uid"))
    gc("clubs", clubs, Seq("uid"))
    gc("regions", regions, Seq("uid"))
    span(spans, "cachescope") { CacheScope.releaseAll() }
    p.statsMap.map { case (t, s) => t -> (s.upserted, s.deleted) }
  }

  /** sync-mail over one snapshot. */
  private def mail(spark: SparkSession, spans: Option[Spans], d: String,
      js: Seq[SyncJob]): Map[Long, MultiJobSync.JobResult] = span(spans, "pipeline.mail") {
    val r = MultiJobSync.syncMany(spark, d, js, math.min(cpus, js.size))
    span(spans, "cachescope") { CacheScope.releaseAll() }
    r
  }

  private val storeDir = s"$work/store"
  private var pipeline: SyncPipeline = _

  /** Both jobs over snapshot `k`. */
  private def syncSnapshot(spark: SparkSession, spans: Option[Spans],
      k: Int): (Map[String, (Long, Long)], Map[Long, MultiJobSync.JobResult]) =
    (app(spark, spans, pipeline, snaps(k)), mail(spark, spans, snaps(k), jobs))

  /** Records what snapshot `k` left for the checks; returns the rows it
    * upserted and deleted, and the first job error. */
  private def record(k: Int, tables: Map[String, (Long, Long)],
      jobRes: Map[Long, MultiJobSync.JobResult]): (Long, Option[String]) = {
    val audiences = jobs.map { j =>
      val ids = AudienceSink.state(s"job-${j.list}").members.keySet()
        .toArray(Array.empty[String]).toSeq
      val r = jobRes(j.id)
      j.name -> Json.obj(
        "upserted" -> r.stats.map(_.upserted).getOrElse(-1L),
        "deleted" -> r.stats.map(_.deleted).getOrElse(-1L),
        "ids" -> ids.size, "ids_sha256" -> Harness.sha256(ids),
        "error" -> r.error)
    }
    records += Json.obj("snapshot" -> k, "dir" -> snaps(k), "store" -> storeDir,
      "tables" -> Json.obj(Layers.SyncTables.map(t => t -> Json.obj(
        "upserted" -> tables(t)._1, "deleted" -> tables(t)._2)): _*),
      "audiences" -> Json.obj(audiences: _*))
    val rows = tables.values.map(x => x._1 + x._2).sum +
      jobRes.values.flatMap(_.stats).map(s => s.upserted + s.deleted).sum
    (rows, jobRes.values.flatMap(_.error).headOption)
  }

  /** The initial load: snapshot 0 synced by both jobs into a fresh store
    * and fresh audiences. The window syncs the churned snapshots onto
    * what it leaves. */
  def setUp(spark: SparkSession): Unit = {
    pipeline = new SyncPipeline(spark, tableStore = Some(ParquetStore(storeDir)))
    val (tables, jobRes) = syncSnapshot(spark, None, 0)
    record(0, tables, jobRes)._2.foreach(e =>
      throw new IllegalStateException(s"initial load of snapshot 0 failed: $e"))
  }

  /** One op per churned snapshot, in order; the window is the whole
    * sequence, however long it takes. */
  def measure(spark: SparkSession, spans: Spans, seconds: Double): Seq[Harness.Op] = {
    var broken: Option[String] = None
    (1 until snaps.size).map { k =>
      spans("op", s"snapshot $k") {
        val span = spans.current
        val t1 = System.nanoTime()
        broken match {
          case Some(e) => Harness.Op(span, "snapshot", k.toString, 0.0, 0L,
            Some(s"not run: an earlier snapshot failed ($e)"))
          case None =>
            try {
              val (tables, jobRes) = syncSnapshot(spark, Some(spans), k)
              val ms = (System.nanoTime() - t1) / 1e6
              val (rows, err) = record(k, tables, jobRes)
              Harness.Op(span, "snapshot", k.toString, ms, rows, err)
            } catch { case e: Exception =>
              broken = Some(e.toString)
              Harness.Op(span, "snapshot", k.toString, (System.nanoTime() - t1) / 1e6, 0L,
                Some(e.toString))
            }
        }
      }
    }
  }

  def checks: Json.Value = Json.obj("snapshots" -> Json.arr(records.toSeq: _*))
}

/** The production corpus-prep pipeline, `CorpusPrep.run`, over one seeded
  * corpus with fresh checkpoint and output dirs each time, as
  * `Cli corpus-prep` runs it: two-phase checkpointed curation, PII scrub,
  * chunking, packing, shard export and the verify of every shard, then
  * the per-pack receipt. One op is one run; ops repeat until `seconds`
  * have passed. There is no warm-up: `Cli corpus-prep` runs the pipeline
  * once per JVM, so the first op pays the cold start its users wait for. */
final class Corpus(inputs: String, work: String) extends Workload {
  private val dir = s"$inputs/tables"
  private var receipt = Seq.empty[String]
  private var runs = 0

  /** One pipeline run into fresh dirs; returns its receipt as JSON lines. */
  private def prep(spark: SparkSession): Seq[String] = {
    val d = s"$work/corpus-$runs"
    runs += 1
    JsonOut.lines(CorpusPrep.run(spark, dir, s"$d/checkpoint", s"$d/out"))
  }

  def setUp(spark: SparkSession): Unit = ()

  def measure(spark: SparkSession, spans: Spans, seconds: Double): Seq[Harness.Op] = {
    val ops = mutable.ArrayBuffer.empty[Harness.Op]
    val t0 = System.nanoTime()
    while (ops.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      ops += spans("op", "corpus-prep") {
        val span = spans.current
        val t1 = System.nanoTime()
        try {
          val lines = spans("call", "pipeline.corpus-prep") { prep(spark) }
          spans("call", "cachescope") { CacheScope.releaseAll() }
          val ms = (System.nanoTime() - t1) / 1e6
          // the first receipt is checked against DuckDB; later runs repeat it
          if (ops.isEmpty) receipt = lines
          val err = if (receipt.sorted == lines.sorted) None
                    else Some("receipt differs from the first run's")
          Harness.Op(span, "corpus-prep", s"run ${ops.size}", ms, lines.size.toLong, err)
        } catch { case e: Exception =>
          Harness.Op(span, "corpus-prep", s"run ${ops.size}", (System.nanoTime() - t1) / 1e6,
            0L, Some(e.toString))
        }
      }
    }
    ops.toSeq
  }

  def checks: Json.Value = Json.obj("receipt" -> receipt)
}

/** Box-state probes, the same two graft.Bench records: a tiny two-stage
  * repartition+aggregate (stage scheduling and shuffle-file latency) and a
  * one-stage scan-sum (task dispatch and compute). Median of five after
  * one dropped rep. */
object Calib {
  def run(spark: SparkSession): Map[String, Double] = {
    def calib(job: () => Unit): Double = {
      val ts = (0 until 6).map { _ =>
        val t0 = System.nanoTime(); job(); (System.nanoTime() - t0) / 1e6
      }.drop(1).sorted
      ts(ts.size / 2)
    }
    Map(
      "calib_shuffle_ms" -> calib(() =>
        spark.range(1 << 16).repartition(32).groupBy((col("id") % 101).as("k"))
          .count().write.format("noop").mode("overwrite").save()),
      "calib_map_ms" -> calib(() =>
        spark.range(1 << 20).select(sum(col("id"))).write.format("noop")
          .mode("overwrite").save()))
  }
}

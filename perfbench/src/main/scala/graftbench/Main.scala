package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.{GraftSession, SparkEntry}
import graft.io.{IngestLoop, Tables}
import graft.operators.{Provenance, QualityModel}
import org.apache.spark.BenchDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

/** Benchmark entry points.
  *
  *   gen-data <dir>                      write the input tables
  *   dump <dataDir> <out.json>           fingerprint every query op and
  *                                       dump its oracle SQL (pinning)
  *   run <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir>
  *       <expected.json> <result.json>   one benchmark run
  */
object Main {
  def main(args: Array[String]): Unit = args.toList match {
    case "gen-data" :: dir :: Nil =>
      val spark = session()
      try graft.tools.GenData.generate(spark, DataScale, dir)
      finally spark.stop()
    case "dump" :: dataDir :: out :: Nil => dump(dataDir, out)
    case "run" :: workload :: seed :: seconds :: trace :: dataDir :: workDir ::
        expected :: out :: Nil =>
      require(Workloads.names.contains(workload), s"unknown workload $workload")
      val r = new Run(workload, seed.toLong, seconds.toDouble, trace == "1",
        Paths.get(dataDir), Paths.get(workDir), Json.readExpected(expected))
      Files.writeString(Paths.get(out), r.execute())
    case _ =>
      System.err.println("usage: see graftbench.Main")
      sys.exit(2)
  }

  /** Scale factor of the generated tables (graft.tools.GenData). */
  val DataScale = 0.01

  val nproc: Int = Runtime.getRuntime.availableProcessors

  def session(): SparkSession =
    GraftSession.local(cpus = nproc, shufflePartitions = nproc,
      appName = "perfbench")

  private def dump(dataDir: String, out: String): Unit = {
    val spark = session()
    try {
      val queries = Workloads.allOps.filter(SparkEntry.queries.contains) :+
        "q106_multi_tick_ingest"
      val entries = queries.map { q =>
          val df = SparkEntry.queries(q)(spark, dataDir)
          val (fp, n) = Canon.fingerprint(df.schema, df.collect())
          q -> Map("fingerprint" -> fp, "rows" -> n,
            "sql" -> SparkEntry.oracleSql(q))
        }
      Files.writeString(Paths.get(out), Json.write(entries.toMap))
    } finally spark.stop()
  }
}

/** One benchmark run of one workload: three set-ups, untimed warm-up
  * passes for `Run.WarmupSeconds`, then timed passes for `seconds`, then
  * the report. */
final class Run(val workload: String, val seed: Long, seconds: Double,
                val traced: Boolean, dataDir: Path, workDir: Path,
                expected: Map[String, (String, Long)]) {
  import Run._

  // read by Report
  val recorder = new SpanRecorder(traced)
  val runtime = new RuntimeListener(detailed = true)
  val passes = ArrayBuffer.empty[Pass]
  val failures = ArrayBuffer.empty[Failure]
  var attempted = 0L

  private val counter = new RuntimeListener(detailed = false)
  private val plans = new PlanListener
  private var spark: SparkSession = _
  private val units = Workloads.units(workload)
  private val split = Workloads.ingestSplit(seed, Provenance.BatchMod)

  // --- sessions -----------------------------------------------------------

  private def startSession(): Unit = {
    spark = Main.session()
    spark.sparkContext.addSparkListener(counter)
  }

  private def stopSession(): Unit = if (spark != null) {
    spark.stop()
    spark = null
  }

  private def drain(): Unit = BenchDrain(spark.sparkContext)

  private def setTracing(on: Boolean): Unit = {
    drain()
    if (on) {
      spark.sparkContext.addSparkListener(runtime)
      spark.listenerManager.register(plans)
    } else {
      spark.sparkContext.removeSparkListener(runtime)
      spark.listenerManager.unregister(plans)
    }
  }

  /** A private copy of the tables: the engine memoizes trained models by
    * input path, so each set-up on a fresh copy pays for them again. */
  private def copyData(tag: String): Path = {
    val dst = workDir.resolve(s"data-$tag")
    Files.createDirectories(dst)
    Tables.names.foreach { t =>
      Files.copy(dataDir.resolve(s"$t.parquet"), dst.resolve(s"$t.parquet"))
    }
    dst
  }

  // --- ops ----------------------------------------------------------------

  /** Runs one op under its span. A throw or a failed output check counts
    * against the run and is recorded by class; the op's time stays in
    * its pass either way. */
  private def op(name: String, pass: Pass)(body: => Unit): Unit = {
    attempted += 1
    val (err, span) = recorder(name, pass.id) {
      try { body; None } catch { case NonFatal(e) => Some(e) }
    }
    err.foreach(e => failures += Failure(pass.id, name, e.getClass.getName,
      String.valueOf(e.getMessage).take(300)))
    pass.ops += OpTime(name, span.seconds, err.isEmpty)
  }

  /** Work between ops that is not part of any op (output checks, store
    * bookkeeping): its time is taken out of the pass. */
  private def unTimed[T](pass: Pass)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally pass.excludedNs += System.nanoTime() - t0
  }

  private def checkFailed(pass: Pass, name: String, what: String): Unit =
    failures += Failure(pass.id, name, "OutputCheckFailed", what)

  private def queryOp(q: String, dir: Path, pass: Pass): Unit = {
    var rows: Array[Row] = null
    var df: DataFrame = null
    op(q, pass) {
      df = recorder("build", pass.id)(SparkEntry.queries(q)(spark, dir.toString))._1
      if (pass.check) rows = recorder("exec", pass.id)(df.collect())._1
      else recorder("exec", pass.id)(df.write.format("noop").mode("overwrite").save())
    }
    if (pass.check && rows != null) unTimed(pass) {
      val got = Canon.fingerprint(df.schema, rows)
      expected.get(q) match {
        case Some(exp) if exp == got => ()
        case Some(exp) => checkFailed(pass, q,
          s"fingerprint ${got._1.take(12)} rows ${got._2}, pinned ${exp._1.take(12)} rows ${exp._2}")
        case None => checkFailed(pass, q, "no pinned fingerprint")
      }
    }
  }

  private def ingestPass(dir: Path, pass: Pass): Unit = {
    val root = unTimed(pass)(Files.createTempDirectory(workDir, "store"))
    val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
    var docs: DataFrame = null
    var st: IngestLoop.Stores = null
    var w: Seq[Double] = null
    op("ingest_bootstrap", pass) {
      docs = recorder("build", pass.id)(Tables.load(spark, dir.toString, "documents"))._1
      val corpus = docs.filter(m.isin(split.corpus: _*))
      w = recorder("build", pass.id)(QualityModel.weights(corpus, scope = "perfbench"))._1
      recorder("bootstrap", pass.id) {
        st = IngestLoop.stores(spark, root.toString, "loop")
        IngestLoop.bootstrap(st, corpus)
      }
    }
    split.ticks.foreach { classes =>
      val batch = if (docs == null) null else docs.filter(m.isin(classes: _*))
      val before = if (pass.check && st != null) unTimed(pass)(hashRows(st)) else 0L
      var report: Array[Row] = null
      op("ingest_tick", pass) {
        val df = recorder("tick", pass.id)(IngestLoop.runTick(st, batch, w))._1
        report = recorder("exec", pass.id)(df.collect())._1
      }
      pass.ticks += pass.ops.last.seconds
      if (pass.check && report != null) unTimed(pass) {
        checkTick(pass, report, batch.count(), hashRows(st) - before)
      }
      op("ingest_compact", pass) {
        if (recorder("compact", pass.id)(
            IngestLoop.compactIfNeeded(st, maxDataFiles = CompactTrigger))._1)
          pass.compactions += 1
      }
    }
    unTimed(pass) {
      if (st != null)
        pass.stateFiles = Seq(st.hashes, st.bands, st.shingles)
          .map(_.dataFileCount).sum
      pass.stateBytes = treeBytes(root)
      deleteTree(root)
    }
  }

  private def hashRows(st: IngestLoop.Stores): Long =
    st.hashes.current().map(_.count()).getOrElse(0L)

  /** A tick's verdict counts cover its batch exactly, and the hash store
    * grows by exactly the admitted (`n_new`) count. */
  private def checkTick(pass: Pass, report: Array[Row], batchSize: Long,
                        grown: Long): Unit = {
    def sum(c: String) = report.map(r => r.getAs[Long](c)).sum
    val verdicts = sum("n_dup_exact") + sum("n_dup_fuzzy") +
      sum("n_low_quality") + sum("n_new")
    if (sum("n_batch") != batchSize || verdicts != batchSize || grown != sum("n_new"))
      checkFailed(pass, "ingest_tick", s"batch $batchSize, n_batch ${sum("n_batch")}, " +
        s"verdicts $verdicts, hash store grew by $grown, admitted ${sum("n_new")}")
  }

  /** On the engine's canonical q106 split the store-backed ticks equal
    * the live q106 rows, and the live q106 equals its pinned fingerprint.
    * Runs once, after the timed passes of a traced run. */
  private def canonicalIngestCheck(dir: Path): Unit = {
    val q = "q106_multi_tick_ingest"
    attempted += 1
    try {
      val live = SparkEntry.queries(q)(spark, dir.toString)
      val liveRows = live.collect()
      val got = Canon.fingerprint(live.schema, liveRows)
      val docs = Tables.load(spark, dir.toString, "documents")
      val m = pmod(col("doc_id"), lit(Provenance.BatchMod))
      val corpus = docs.filter(m.between(1, 9))
      val w = QualityModel.weights(corpus,
        scope = s"multitick${Provenance.BatchMod}")
      val root = Files.createTempDirectory(workDir, "canonical")
      val st = IngestLoop.stores(spark, root.toString, "loop")
      IngestLoop.bootstrap(st, corpus)
      val differing = Seq(1 -> docs.filter(m >= 10), 2 -> docs.filter(m === 0))
        .collect { case (t, batch)
          if IngestLoop.runTick(st, batch, w).collect().map(_.toSeq).toSeq !=
            liveRows.filter(_.getInt(0) == t).map(_.toSeq.tail).toSeq => t }
      deleteTree(root)
      if (!expected.get(q).contains(got) || differing.nonEmpty)
        failures += Failure("canonical", q, "OutputCheckFailed",
          s"fingerprint ${got._1.take(12)} rows ${got._2}; " +
            s"store-backed ticks differing from live q106: ${differing.mkString(",")}")
    } catch {
      case NonFatal(e) => failures += Failure("canonical", q,
        e.getClass.getName, String.valueOf(e.getMessage).take(300))
    }
  }

  // --- passes -------------------------------------------------------------

  private def runPass(kind: String, idx: Int, dir: Path, check: Boolean,
                      tracedPass: Boolean): Pass = {
    val pass = Pass(s"$kind$idx", kind, check, tracedPass)
    if (tracedPass) setTracing(on = true)
    val jobs0 = counter.jobsStarted
    val plans0 = plans.execs.length
    val (_, span) = recorder("pass", pass.id) {
      Workloads.order(units, seed, passes.size).foreach {
        case Workloads.IngestLoop => ingestPass(dir, pass)
        case q => queryOp(q, dir, pass)
      }
    }
    drain()
    pass.jobs = counter.jobsStarted - jobs0
    pass.planMs = plans.execs.slice(plans0, plans.execs.length).toSeq
    pass.span = span
    pass.cachedBytes = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    if (tracedPass) setTracing(on = false)
    passes += pass
    pass
  }

  def execute(): String = {
    Files.createDirectories(workDir)
    // three set-ups, each a new session over a fresh copy of the tables;
    // the first is the only one in a cold JVM
    val setups = (0 until SetupRepeats).map { i =>
      val dir = copyData(s"setup$i")
      stopSession()
      val (_, sess) = recorder("session", s"setup$i")(startSession())
      val p = runPass("setup", i, dir, check = true, tracedPass = traced)
      (sess.seconds + p.seconds, dir)
    }
    val dir = setups.last._2
    // untimed passes for WarmupSeconds let the JIT settle past the
    // set-ups' warm-up, so the timed passes start where pass times level off
    val w0 = System.nanoTime()
    var w = 0
    while (w < 1 || (System.nanoTime() - w0) / 1e9 < WarmupSeconds) {
      runPass("warmup", w, dir, check = false, tracedPass = false)
      w += 1
    }
    val t0 = System.nanoTime()
    var i = 0
    // the traced run alternates traced and untraced passes, so the
    // difference of their medians is the tracing overhead
    while (i < MinTimed(traced) || (System.nanoTime() - t0) / 1e9 < seconds) {
      runPass("timed", i, dir, check = false, tracedPass = traced && i % 2 == 0)
      i += 1
    }
    // the canonical-split replay costs about a pass, so only the traced
    // run pays for it; every run checks the tick invariants
    if (traced && units.contains(Workloads.IngestLoop)) canonicalIngestCheck(dir)
    drain()
    val heapMb = if (traced) retainedHeapMb() else 0.0
    val report = Report.build(this, setups.map(_._1), heapMb)
    stopSession()
    deleteTree(workDir)
    report
  }
}

object Run {
  val SetupRepeats = 3
  /** Warm-up length. Pass times keep falling for a few passes after the
    * set-ups while the JIT compiles (`etl_core` about 3.7, 3.2, 3.2 s, then
    * level near 2.9 s on a 4-core box; `curation_ticks` is level after
    * one), so the warm-up runs whole passes until this much time has gone:
    * two for `etl_core`, one or two for `curation_ticks`. */
  val WarmupSeconds = 6.0
  /** Timed passes at least: two, so `pass_s` never rests on one pass
    * (a `curation_ticks` pass outlasts `--seconds 6`), or traced,
    * untraced, traced — the two traced passes bracket the untraced one,
    * so warm-up drift cancels out of the tracing overhead. */
  def MinTimed(traced: Boolean): Int = if (traced) 3 else 2
  /** `IngestLoop.compactIfNeeded` trigger: each store gains one data file
    * per tick at the benchmark's size, so 1 compacts after every tick. */
  val CompactTrigger = 1L

  final case class Failure(pass: String, op: String, errorClass: String,
                           message: String)
  final case class OpTime(name: String, seconds: Double, ok: Boolean)

  final case class Pass(id: String, kind: String, check: Boolean,
                        traced: Boolean) {
    val ops = ArrayBuffer.empty[OpTime]
    val ticks = ArrayBuffer.empty[Double]
    var excludedNs = 0L
    var jobs = 0L
    /** Catalyst planning milliseconds of each execution (traced passes). */
    var planMs: Seq[Long] = Nil
    var span: Span = _
    var cachedBytes = 0L
    var compactions = 0
    var stateFiles = 0L
    var stateBytes = 0L
    /** Wall time of the pass less its untimed work. */
    def seconds: Double = span.seconds - excludedNs / 1e9
  }

  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach(_ => System.gc())
    mx.getHeapMemoryUsage.getUsed / 1e6
  }

  def treeBytes(p: Path): Long =
    scala.util.Using.resource(Files.walk(p)) { s =>
      s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p))
    scala.util.Using.resource(Files.walk(p)) { s =>
      s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.deleteIfExists(x))
    }
}

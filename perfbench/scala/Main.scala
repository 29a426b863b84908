package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.core.columns.WriterOpts
import graft.core.compress.CompressionKind
import graft.core.file.MothFileReader
import graft.spark.{EncodeJob, Manifest, MothSpark, TranscriptGen}

/** One run of one benchmark workload, in one JVM on Spark local[nproc].
  *
  * Usage: Main --workload W --seed S --seconds T --trace 0|1 --work DIR --out FILE
  *
  * Set-up generates the F1 transcripts table from the seed, stages it as
  * parquet and writes the workload's moth files; it is repeated
  * [[SetupReps]] times and followed by one warm-up pass. The workload then
  * runs closed-loop (one client, next operation after the previous returns)
  * for T seconds. With --trace 1 operations alternate untraced and
  * traced, then one output partition is replayed through the
  * engine's file and kernel modules. Every operation is checked; timings,
  * checks and spans go to FILE as JSON for run.py to reduce.
  */
object Main {
  /** Turns per run, exactly, so every seed does the same amount of work:
    * enough that decode and encode work, not per-job overhead, dominate a
    * scan or an encode; conv_lookup needs fewer, as lookups touch one file.
    */
  def turns(workload: String): Long = if (workload == "conv_lookup") 60000L else 120000L
  val SetupReps = 3
  /** Operations in the untimed warm-up (conv_lookup: see
    * [[WarmupLookupPasses]]), so JIT compilation and Spark's codegen cache
    * settle before timing.
    */
  val WarmupOps = 2
  /** conv_lookup warms up with whole passes over its keys: a lookup is
    * mostly driver-side planning, whose JIT compilation settles more slowly
    * than that of the bulk workloads.
    */
  val WarmupLookupPasses = 3
  /** Files of the staged table and of the tables the read workloads scan:
    * several per core, so a read keeps every core busy to the end and
    * conv_lookup has files for pruning to skip.
    */
  def readFiles(cores: Int): Int = 4 * cores
  /** conv_lookup keys per pass. A run makes at least [[MinLookupPasses]]
    * whole passes, 100 present-key lookups, so the present-key p90 always
    * has at least 10 samples beyond it; a faster engine makes more passes
    * in `--seconds` but is judged at the same percentile. Absent keys get
    * only a median, so fewer of them suffice.
    */
  val PresentKeys = 25
  val AbsentKeys = 5
  val MinLookupPasses = 4
  val Columns: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
  val SortedBy = "conv_id,turn_idx"
  val Workloads = Set("transcripts_encode", "transcripts_scan", "conv_lookup")

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    require(Workloads(workload), s"unknown workload $workload")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.local.dir", a("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", a("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      val run = new Run(spark, a("work"), a("seed").toLong, cores)
      run.setup("session_s") = sessionS
      run.execute(workload, a("seconds").toDouble, a("trace") == "1")
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(new File(a("out")), run.result(workload))
    } finally spark.stop()
  }
}

/** Count plus the exact sum of xxhash64 over all six columns, split into
  * high and low 32-bit halves so neither long sum can overflow.
  */
final case class Digest(rows: Long, hi: Long, lo: Long) {
  def toSeq: Seq[Long] = Seq(rows, hi, lo)
}

object Digest {
  /** The aggregate query. Once collected (not `head`, which plans a new
    * query), its executed plan carries the scan's SQL metrics.
    */
  def query(df: DataFrame): DataFrame = {
    val h = xxhash64(Main.Columns.map(col): _*)
    df.agg(count(lit(1)), sum(shiftright(h, 32)), sum(h.bitwiseAND(0xffffffffL)))
  }

  def read(r: Row): Digest = {
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Digest(l(0), l(1), l(2))
  }

  def of(df: DataFrame): Digest = read(query(df).collect().head)
}

/** Result record of one operation: its timing, what it produced and the
  * checks made on its output. Rendered as one entry of `ops`. `request` is
  * the workload request the operation belongs to (see [[Run.runOnce]]).
  */
final class OpRec(val kind: String, val phase: String, val request: Int,
    val attrs: mutable.Map[String, Any]) {
  var wallNs = 0L
  var turns = 0L
  var error: String = null
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]

  def check(name: String, expected: Any, got: Any): Unit =
    checks += Map("name" -> name, "kind" -> "equal", "expected" -> expected.toString,
      "got" -> got.toString)
  def digest(name: String, expected: Digest, got: Digest): Unit =
    checks += Map("name" -> name, "kind" -> "digest", "expected" -> expected.toSeq,
      "got" -> got.toSeq)
  def render: Map[String, Any] = Map("kind" -> kind, "phase" -> phase, "request" -> request,
    "wall_ns" -> wallNs, "turns" -> turns, "error" -> Option(error), "checks" -> checks,
    "attrs" -> attrs)
}

final class Run(spark: SparkSession, work: String, seed: Long, cores: Int) {
  import spark.implicits._
  private val sc = spark.sparkContext
  val tracer = new Tracer(sc)
  private val listener = new StageSpans(tracer)
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  val setup = mutable.LinkedHashMap.empty[String, Any]
  private val facts = mutable.LinkedHashMap.empty[String, Any]
  private var failed = false
  private var seq = 0
  private var request = 0

  private var staged: String = _
  private var input: Digest = _
  /** Moth files the workload reads, or the last encode output. */
  private var filesDir: String = _
  private var opts = WriterOpts()
  private var keys: IndexedSeq[String] = IndexedSeq.empty
  private var expected: Map[String, String] = Map.empty

  private def fresh(prefix: String): String = { seq += 1; s"$work/$prefix-$seq" }

  private def delete(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(path))
  }

  private def threadAllocated(): Long = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean =>
      t.getThreadAllocatedBytes(t.getAllThreadIds).filter(_ > 0).sum
    case _ => 0L
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray.collect {
      case g: java.lang.management.GarbageCollectorMXBean => math.max(0L, g.getCollectionTime)
    }.sum

  /** Times `action` (and only it) as one operation, then runs `verify` on
    * its result untimed. A throw in either marks the operation failed.
    */
  private def timed[T](kind: String, phase: String)(action: => T)(verify: (T, OpRec) => Unit): Unit = {
    var rec: OpRec = null
    try {
      val result = tracer.span("op." + kind) { attrs =>
        rec = new OpRec(kind, phase, request, attrs)
        val (alloc0, gc0) = if (tracer.enabled) (threadAllocated(), gcMs()) else (0L, 0L)
        val t0 = System.nanoTime()
        val r = action
        rec.wallNs = System.nanoTime() - t0
        if (tracer.enabled) {
          attrs("alloc_bytes") = threadAllocated() - alloc0
          attrs("gc_ms") = gcMs() - gc0
        }
        r
      }
      verify(result, rec)
    } catch {
      case e: Throwable =>
        if (rec == null) rec = new OpRec(kind, phase, request, mutable.Map.empty)
        rec.error = s"${e.getClass.getName}: ${e.getMessage}"
    }
    ops += rec
    if (rec.error != null) failed = true
  }

  private def action[T](body: => T): T = tracer.span("spark.action")(_ => body)

  private def mothFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".moth")).sortBy(_.getName)

  private def manifests(dir: String): Seq[Manifest] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("manifest-") && f.getName.endsWith(".json"))
      .sortBy(_.getName).map(f => Manifest.read(f.getPath))

  // ---- set-up ----

  /** Generates the F1 table and stages its first `turns` turns in
    * (conv_id, turn_idx) order as parquet. Returns the staged turns per
    * conversation.
    */
  private def stage(turns: Long): Array[(String, Long)] = {
    staged = fresh("staged")
    val gen = TranscriptGen.transcripts(spark, turns * 3 / 2, seed,
      partitions = Main.readFiles(cores)).persist()
    try {
      val convs = gen.groupBy("conv_id").count().as[(String, Long)].collect().sortBy(_._1)
      val before = convs.scanLeft(0L)(_ + _._2)
      val last = before.indexWhere(_ >= turns) - 1
      require(last >= 0, s"generator produced ${before.last} turns, fewer than $turns")
      val (lastId, keep) = (convs(last)._1, turns - before(last))
      gen.filter(col("conv_id") < lastId || (col("conv_id") === lastId && col("turn_idx") < keep))
        .write.parquet(staged)
      input = Digest.of(spark.read.parquet(staged))
      convs.take(last).toArray :+ (lastId -> keep)
    } finally gen.unpersist()
  }

  private def encodeJob(out: String, partitions: Int = cores): String =
    tracer.span("call graft.spark.EncodeJob.run") { _ =>
      EncodeJob.run(spark, Map("out" -> out, "input" -> staged, "codec" -> "zlib",
        "partitions" -> partitions.toString))
    }

  private def writeLookupFiles(out: String): Unit = {
    val sorted = TranscriptGen.withSalt(spark.read.parquet(staged))
      .repartitionByRange(Main.readFiles(cores), col("conv_id"), col("salt"), col("turn_idx"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx"))
      .drop("salt")
    MothSpark.writeFiles(sorted, out, s"perfbench:conv_lookup:seed=$seed",
      CompressionKind.ZLIB, opts, firstKeyCols = Seq("conv_id", "turn_idx"))
  }

  /** The keys of one lookup pass. Present and absent keys are reported as
    * separate metrics, so their counts set only how many samples each
    * metric gets. Present keys: one at a seeded random rank in each of
    * [[Main.PresentKeys]] equal slices of the conversations ordered by
    * length, so they follow the data's own spread of conversation sizes,
    * except that the last slice gives its longest conversation, so every
    * run looks up the heavy tail. Absent keys: an id plus `x`, which sorts
    * inside that id's file range, so only bloom filters can skip it.
    */
  private def chooseKeys(convs: Array[(String, Long)]): Unit = {
    val rnd = new scala.util.Random(seed)
    val byLength = convs.sortBy { case (id, n) => (n, id) }
    val slice = byLength.length.toDouble / Main.PresentKeys
    val present = (0 until Main.PresentKeys).map { i =>
      if (i == Main.PresentKeys - 1) byLength.last._1
      else byLength((i * slice + rnd.nextDouble() * slice).toInt)._1
    }
    val absent = rnd.shuffle(convs.toSeq).take(Main.AbsentKeys).map(_._1 + "x")
    keys = rnd.shuffle(present ++ absent).toIndexedSeq
    val rows = spark.read.parquet(staged).filter(col("conv_id").isin(present: _*)).collect()
    val byKey = rows.groupBy(_.getString(0))
    expected = keys.map(k => k -> signature(byKey.getOrElse(k, Array.empty[Row]).sortBy(_.getInt(1)))).toMap
  }

  /** Row count plus an order-sensitive hash of the rows. */
  private def signature(rows: Array[Row]): String =
    s"${rows.length}:${scala.util.hashing.MurmurHash3.orderedHash(rows.toSeq)}"

  private def runSetup(workload: String): Unit = {
    val reps = (0 until Main.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val previous = Seq(staged, filesDir).filter(_ != null)
      val convs = stage(Main.turns(workload))
      workload match {
        case "transcripts_encode" =>
        case "transcripts_scan" =>
          filesDir = fresh("files")
          encodeJob(filesDir, Main.readFiles(cores))
        case "conv_lookup" =>
          filesDir = fresh("files")
          opts = WriterOpts(bloomColumns = Set("conv_id"))
          writeLookupFiles(filesDir)
          chooseKeys(convs)
      }
      val s = (System.nanoTime() - t0) / 1e9
      previous.foreach(delete)
      s
    }
    setup("reps_s") = reps
    val t0 = System.nanoTime()
    val warmups = if (workload == "conv_lookup") Main.WarmupLookupPasses * keys.size else Main.WarmupOps
    (1 to warmups).foreach(_ => runOnce(workload, "warmup"))
    setup("warmup_s") = (System.nanoTime() - t0) / 1e9
    val sortedReps = reps.sorted
    setup("setup_s") = setup("session_s").asInstanceOf[Double] +
      sortedReps(sortedReps.size / 2) + setup("warmup_s").asInstanceOf[Double]
  }

  // ---- operations ----

  private var lookupNext = 0

  /** One request of the workload, a span of its own when traced:
    * transcripts_encode, one encode job; transcripts_scan, one read of the
    * table through both decode surfaces, (a) then (b); conv_lookup, one
    * lookup.
    */
  private def runOnce(workload: String, phase: String): Unit = {
    request += 1
    tracer.span("request")(_ => operations(workload, phase))
  }

  private def operations(workload: String, phase: String): Unit = workload match {
    case "transcripts_encode" =>
      val out = fresh("encoded")
      timed("encode", phase)(encodeJob(out)) { (_, rec) =>
        val ms = manifests(out)
        val files = mothFiles(out)
        rec.turns = input.rows
        rec.attrs("raw_bytes") = ms.map(_.rawBytes).sum
        rec.attrs("file_bytes") = files.map(_.length).sum
        rec.attrs("files") = files.size
        rec.digest("encode output digest", input, Digest.of(spark.read.format("moth").load(out)))
        files.foreach { f =>
          val rd = MothFileReader.fromPath(f.getPath)
          try rec.check(s"sorted-by tag of ${f.getName}", Main.SortedBy,
            rd.userMetadata.getOrElse(MothSpark.SortedByKey, "<none>"))
          finally rd.close()
        }
        if (filesDir != null) delete(filesDir)
        filesDir = out
      }
    case "transcripts_scan" =>
      var q: DataFrame = null
      timed("scan", phase) {
        q = Digest.query(spark.read.format("moth").load(filesDir))
        action(Digest.read(q.collect().head))
      } { (d, rec) =>
        rec.turns = d.rows
        rec.digest("moth scan digest", input, d)
        if (tracer.enabled) scanMetrics(q, rec.attrs)
      }
      timed("roundtrip", phase) {
        val df = tracer.span("call graft.spark.MothSpark.roundtrip") { _ =>
          MothSpark.roundtrip(spark.read.parquet(staged))
        }
        action(Digest.of(df))
      } { (d, rec) =>
        rec.turns = d.rows
        rec.digest("roundtrip digest", input, d)
      }
    case "conv_lookup" =>
      val k = keys(lookupNext % keys.size)
      lookupNext += 1
      var df: DataFrame = null
      timed("lookup", phase) {
        df = spark.read.format("moth").load(filesDir).filter(col("conv_id") === k)
        action(df.collect()).sortBy(_.getInt(1))
      } { (rows, rec) =>
        rec.turns = rows.length
        rec.attrs("absent") = k.endsWith("x")
        rec.check(s"lookup $k", expected(k), signature(rows))
        if (tracer.enabled) scanMetrics(df, rec.attrs)
      }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Public SQL metrics of the DSv2 scan node of an executed query. */
  private def scanMetrics(df: DataFrame, attrs: mutable.Map[String, Any]): Unit = {
    val scans = Plans.collect(df.queryExecution.executedPlan) { case s: BatchScanExec => s }
    def sumOf(name: String) = scans.flatMap(_.metrics.get(name)).map(_.value).sum
    attrs("moth_bytes_read") = sumOf("mothBytesRead")
    attrs("scan_rows") = sumOf("numOutputRows")
    attrs("scan_partitions") = scans.map(_.inputRDD.partitions.length).sum
  }

  /** Runs `op` closed-loop until `seconds` have passed and at least
    * `minOps` requests ran, ending on a whole pass of `pass` requests.
    */
  private def loop(seconds: Double, minOps: Int, pass: Int)(op: Int => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    do { op(i); i += 1 }
    while ((System.nanoTime() < end || i < minOps || i % pass != 0) && !failed)
  }

  /** Runs `body` with spans on and the benchmark's SparkListener registered,
    * then waits until the listener has handled every event of it, so
    * untraced operations pay for neither.
    */
  private def traced(body: => Unit): Unit = {
    sc.addSparkListener(listener)
    tracer.enabled = true
    try body
    finally {
      tracer.enabled = false
      try listener.drain(sc) finally sc.removeSparkListener(listener)
    }
  }

  def execute(workload: String, seconds: Double, trace: Boolean): Unit = {
    runSetup(workload)
    val pass = math.max(1, keys.size)
    val minPasses = if (workload == "conv_lookup") Main.MinLookupPasses else 1
    if (!trace) loop(seconds, minPasses * pass, pass)(_ => runOnce(workload, "measure"))
    else {
      // Untraced and traced requests alternate, so both see the same JIT
      // and cache state and their gap is the cost of tracing alone. The
      // pairing flips after each pass over conv_lookup's keys, and the run
      // ends on an even number of passes, so every key is looked up both
      // ways equally often, and each way gets the minimum passes.
      loop(seconds, 2 * minPasses * pass, 2 * pass) { i =>
        val flip = if (keys.isEmpty) 0 else i / pass
        if ((i + flip) % 2 == 0) runOnce(workload, "untraced")
        else traced(runOnce(workload, "traced"))
      }
      traced(timed("replay", "traced")(new Replay(tracer, filesDir, opts).run()) { (checks, rec) =>
        checks.foreach { case (name, expected, got) => rec.check(name, expected, got) }
      })
    }
    val ms = manifests(filesDir)
    val files = mothFiles(filesDir)
    facts("turns") = input.rows
    facts("raw_bytes") = ms.map(_.rawBytes).sum
    facts("file_bytes") = files.map(_.length).sum
    facts("raw_mb") = ms.map(_.rawBytes).sum / 1e6
    facts("file_mb") = files.map(_.length).sum / 1e6
    facts("files") = files.size
    facts("lookup_keys") = keys.size
    facts("nproc") = cores
    facts("jvm") = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"
    facts("spark") = spark.version
    facts("max_heap_mb") = Runtime.getRuntime.maxMemory() / (1 << 20)
  }

  def result(workload: String): Map[String, Any] = Map(
    "workload" -> workload, "seed" -> seed, "setup" -> setup, "facts" -> facts,
    "ops" -> ops.map(_.render),
    "spans" -> tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs)))
}

package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One closed-loop request. `body` runs inside the timed span and returns
  * the check, which runs after the span closes and returns the digest the
  * output checks compare against the ground truth. */
final case class Op(name: String, body: () => (() => Any))

final case class OpRecord(id: Int, pass: Int, name: String, traced: Boolean,
                          startMs: Long, endMs: Long, latNs: Long,
                          error: Option[String], digest: Any)

/** A benchmark workload: a fixture built during set-up, then identical
  * passes of ops. */
abstract class Workload(val h: Harness) {
  def name: String
  /** Build the fixture from scratch (the harness times several builds). */
  def fixture(): Unit
  /** One-off set-up after the fixture builds (timed once). */
  def prepare(): Unit = ()
  /** The ops of pass `p`, in order; later ops may use earlier ops' state. */
  def pass(p: Int): Seq[Op]
  /** Release per-pass state (caches) after a pass, outside any timed span. */
  def endPass(): Unit = ()
  /** Directory holding every table the workload stores. */
  def catalogRoot: String
}

/** Session, client loop and artifact of one benchmark process. */
final class Harness(val spark: SparkSession, val root: String,
                    val input: String, val injectFailure: Option[String]) {
  val spans = new Spans
  val cpus: Int = spark.sparkContext.defaultParallelism
  /** Workload-reported counts (candidate pairs, probes, rows), per op. */
  val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var tracer: Option[Tracer] = None
  private var nextId = 0

  def path(rel: String): String = new java.io.File(input, rel).getPath

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Canonical digest of a small result: column names and rows as text. */
  def rows(df: DataFrame): Map[String, Any] = {
    val cols = df.columns.toSeq
    Map("cols" -> cols, "rows" -> df.collect().toSeq.map(r =>
      (0 until r.length).map(i => Harness.text(r.get(i)))))
  }

  private def drain(): Unit =
    if (tracer.isDefined)
      org.apache.spark.perfbenchshim.ListenerBusDrain(spark.sparkContext)

  /** Run one op; `checked = false` (the warm-up) skips its output check. */
  def runOp(pass: Int, op: Op, traced: Boolean,
            checked: Boolean = true): OpRecord = {
    nextId += 1
    val id = nextId
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", op.name, interruptOnCancel = false)
    tracer.foreach(_.currentOp = id)
    spans.opId = id
    var check: () => Any = null
    var error: Option[String] = None
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try check = spans(op.name)(op.body())
    catch { case t: Throwable => error = Some(Harness.describe(t)) }
    val latNs = System.nanoTime() - t0
    val endMs = System.currentTimeMillis()
    drain()
    tracer.foreach(_.currentOp = -1)
    spans.opId = -1
    sc.setJobGroup(s"check-$id", op.name, interruptOnCancel = false)
    val digest: Any =
      if (check == null || !checked) null
      else try check() catch {
        case t: Throwable => Map("check_error" -> Harness.describe(t))
      }
    sc.clearJobGroup()
    drain()
    OpRecord(id, pass, op.name, traced, startMs, endMs, latNs, error, digest)
  }

  def runPass(w: Workload, p: Int, traced: Boolean,
              checked: Boolean = true): Seq[OpRecord] = {
    val ops = w.pass(p)
    // self-test: the named op throws at once in place of its work
    injectFailure.foreach(n => require(ops.exists(_.name == n), s"no op $n"))
    val withFault = ops.map(op =>
      if (injectFailure.contains(op.name)) Op(op.name, () =>
        throw new IllegalStateException("injected failure"))
      else op)
    try withFault.map(runOp(p, _, traced, checked)) finally w.endPass()
  }

  /** Whole passes until the timed spans add up to `seconds`;
    * `afterFirst` runs once, right after the first pass. */
  def runTimed(w: Workload, firstPass: Int, seconds: Double,
               traced: Boolean,
               afterFirst: () => Unit = () => ()): Seq[Seq[OpRecord]] = {
    val passes = mutable.ArrayBuffer.empty[Seq[OpRecord]]
    var timedNs = 0L
    var p = firstPass
    while (passes.isEmpty || timedNs < seconds * 1e9) {
      val recs = runPass(w, p, traced)
      if (passes.isEmpty) afterFirst()
      timedNs += recs.map(_.latNs).sum
      passes += recs
      p += 1
    }
    passes.toSeq
  }
}

object Harness {
  def describe(t: Throwable): String =
    s"${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}"

  def text(v: Any): String = v match {
    case null => null
    case d: java.math.BigDecimal => d.toPlainString
    case o => o.toString
  }

  /** The pinned session: local[nproc] with nproc shuffle partitions, UTC,
    * 4m execution pages and the sort shuffle writer (graft.Bench's
    * settings), and graft.GraftExtensions as the tests install it. The
    * heap is the launcher's -Xmx. Every scratch path lives under `root`. */
  def session(root: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(graft.Tables.NanosConf, "true")
      .config("spark.buffer.pageSizeBytes", "4m")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.local.dir", new java.io.File(root, "spark-local").getPath)
      .config("spark.sql.warehouse.dir",
        new java.io.File(root, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The session settings a comparison must hold equal. */
  def conf(spark: SparkSession): Map[String, String] = {
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.sql.extensions",
      graft.Tables.NanosConf, "spark.buffer.pageSizeBytes",
      "spark.shuffle.sort.bypassMergeThreshold")
    keys.map(k => k -> spark.conf.getOption(k).orNull).toMap ++ Map(
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory().toString,
      "spark.version" -> spark.version)
  }

  /** Heap retained after a full GC, in MB: what the run keeps live
    * (caches, checkpoints, catalog and plan memos). Unlike the peak RSS it
    * does not depend on how far G1 chose to grow the heap. */
  def liveHeapMb(): Double =
    // the least of three GCs: Spark's ContextCleaner frees broadcast and
    // shuffle blocks only after a GC has cleared their weak references
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Every file under `dir` as (path, bytes, mtime). */
  def listFiles(dir: java.io.File): Seq[(String, Long, Long)] =
    if (!dir.exists()) Nil
    else Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) listFiles(f)
      else Seq((f.getPath, f.length(), f.lastModified()))
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

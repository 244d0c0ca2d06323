package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark process: set up the workload's fixture, run an untimed
  * warm-up pass, then timed passes, and write the run artifact (every op
  * with its latency, error and output digest) for the launcher to check.
  *
  * Arguments (all required unless noted): --workload, --input (generated
  * files), --root (scratch root for every catalog and Spark directory),
  * --out (artifact path), --seconds, --trace 0|1, --t0 (epoch ms at which
  * set-up started), --inject-failure OP (optional; op OP throws at once
  * in place of its work in every pass, for the self-test). */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val root = a("root")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val spark = Harness.session(root)
    val sessionS = (System.currentTimeMillis() - a("t0").toLong) / 1e3
    val h = new Harness(spark, root, a("input"), a.get("inject-failure"))
    val w: Workload = a("workload") match {
      case "superstore_elt" => new SuperstoreElt(h)
      case "corpus_dedup" => new CorpusDedup(h)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    def timed(f: => Unit): Double = {
      val t = System.nanoTime()
      f
      (System.nanoTime() - t) / 1e9
    }
    // the fixture is built three times; set-up counts the median build
    val fixtureS = (1 to 3).map(_ => timed(w.fixture()))
    val prepareS = timed(w.prepare())
    val warmup = h.runPass(w, -1, traced = false, checked = false)
    val warmupS = warmup.map(_.latNs / 1e9).sum
    var storedBytes = 0L
    val untraced = h.runTimed(w, 0, seconds, traced = false, () =>
      storedBytes = Harness.listFiles(new java.io.File(w.catalogRoot))
        .map(_._2).sum)
    val peakRss = Harness.peakRssMb()
    val liveHeap = Harness.liveHeapMb()

    val (traced, layers) =
      if (!trace) (Nil, Map.empty[String, Double])
      else {
        h.counters.clear()
        val catRoot = new java.io.File(w.catalogRoot)
        val before = Harness.listFiles(catRoot)
        val tracer = new Tracer(spark.sparkContext)
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        h.tracer = Some(tracer)
        h.spans.enabled = true
        val start = System.currentTimeMillis()
        val passes = h.runTimed(w, untraced.size, seconds, traced = true)
        (passes, Layers(h, tracer, passes, untraced, before,
          Harness.listFiles(catRoot), catRoot.getPath, start) +
          ("jvm.peak_rss_mb" -> peakRss))
      }

    def rec(r: OpRecord) = Map("id" -> r.id, "pass" -> r.pass,
      "name" -> r.name, "traced" -> r.traced, "lat_ms" -> r.latNs / 1e6,
      "error" -> r.error, "digest" -> r.digest)
    val artifact = Map(
      "workload" -> w.name,
      "conf" -> Harness.conf(spark),
      "setup" -> Map("session_s" -> sessionS, "fixture_s" -> fixtureS,
        "prepare_s" -> prepareS,
        "warmup_s" -> warmupS,
        "warmup_errors" -> warmup.flatMap(_.error)),
      "passes" -> untraced.size,
      "traced_passes" -> traced.size,
      "stored_bytes" -> storedBytes,
      "peak_rss_mb" -> peakRss,
      "heap_live_mb" -> liveHeap,
      "ops" -> (untraced.flatten ++ traced.flatten).map(rec),
      "spans" -> h.spans.done.map(s => Seq(s.id, s.name, s.startMs, s.endMs,
        s.parent, s.opId)),
      "layers" -> layers)
    val out = new java.io.File(a("out"))
    java.nio.file.Files.write(out.toPath,
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsBytes(artifact))
    spark.stop()
  }
}

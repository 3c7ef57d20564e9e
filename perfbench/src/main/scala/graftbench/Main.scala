package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.SparkEntry

/** Benchmark runner. One JVM, `local[cpus]`, one client thread in a closed
  * loop: each op is issued after the previous one returns. Untimed
  * warm-up passes precede the measured passes; every pass runs the
  * workload's ops in an order drawn from the seed. Each op is timed from
  * the call into the engine to the end of the digest action over its full
  * result, and the digest is checked. `run.py` builds and launches this.
  */
object Main {
  /** Latency samples a run takes at least. 20 is the fewest that leave 10
    * beyond a percentile (p50); 28 gives each op of a four-op workload
    * seven samples, so one slow call in a pass moves no op's median.
    */
  val MinSamples = 28
  /** Measured passes before the run may stop: at least 4, and enough for
    * [[MinSamples]]. With the op count this fixes the tail percentile of a
    * workload, whatever the number of passes that fit in `--seconds`.
    */
  def minPasses(ops: Int): Int = math.max(4, math.ceil(MinSamples.toDouble / ops).toInt)
  /** Untimed passes after the cold one. Spark's code keeps compiling for
    * several passes, and passes ran 20-50% slower during that than after
    * it. The warm-up is counted in passes, not seconds, so a run on a
    * loaded host starts measuring after the same work as one on an idle
    * host, not earlier on the JIT curve. About 12 s on 4 idle cores.
    */
  val WarmupPasses: Map[String, Int] = Map("query_mix" -> 5, "llm_corpus" -> 3, "store_maintenance" -> 3)
  /** Traced and untraced passes each of a traced run, at least. */
  val TracedMinPasses = 2
  val ProbeSeconds = 1.5

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        fixture: String, bench: Path, work: Path, result: Path, artifact: Path,
                        launchMs: Long, cpus: Int, allOps: Boolean, record: Boolean)

  final case class Pass(traced: Boolean, wallS: Double, writeMb: Double, samples: Seq[Sample],
                        ops: Seq[TracedOp])

  def main(argv: Array[String]): Unit = {
    val code =
      try { val a = parse(argv); if (a.record) record(a) else run(a) }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("fixture"), Paths.get(get("bench")), Paths.get(get("work")), Paths.get(get("result")),
      Paths.get(m.getOrElse("artifact", "trace.json")), get("launch-ms").toLong, get("cpus").toInt,
      m.get("ops").contains("all"), m.get("mode").contains("record"))
  }

  /** The session `graft.Bench` builds, with its scratch paths in the
    * benchmark's work directory. The traced run also counts file-system
    * protocol calls. Fixture footers are read by the first warm-up pass.
    */
  private def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .withExtensions(e => new graft.functions.GraftExtensions()(e))
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bytes this process has passed to write calls (`wchar`): shuffle,
    * store and checkpoint files and the engine's log output. Unlike
    * `write_bytes` it does not depend on when the page cache writes back.
    */
  private def writeBytes(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .collectFirst { case l if l.startsWith("wchar:") => l.split(":")(1).trim.toLong }
      .getOrElse(0L)

  /** Heap in use after full GCs. Spark's ContextCleaner frees blocks of
    * collected RDDs and broadcasts only after a GC finds them, so the
    * collection is repeated with a pause for it.
    */
  private def heapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def metric(v: Double, unit: String) = ListMap("value" -> v, "unit" -> unit)

  def run(a: Args): Int = {
    val byWorkload = Workloads.guard(Workloads.load(a.bench.resolve("ops.tsv")), SparkEntry.queries.keySet)
    val ops = byWorkload.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; known: ${Workloads.Names.mkString(", ")}"))
      .filter(o => a.allOps || o.timed).sortBy(_.key)
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - a.launchMs) / 1e3
    val sc = spark.sparkContext
    val rng = new scala.util.Random(a.seed)
    val rec = new Recorder
    var spanId = 0L
    def nextSpan(): Long = { spanId += 1; spanId }
    val passSpans = ArrayBuffer.empty[Span]
    val errors = ArrayBuffer.empty[String]

    def runPass(traced: Boolean): Pass = {
      if (traced) { sc.addSparkListener(rec); spark.listenerManager.register(rec) }
      val passId = nextSpan()
      val passStart = Clock.nowUs
      val w0 = writeBytes()
      val cg0 = Counters.codegen()
      var bookkeepingUs = 0L
      val traces = ArrayBuffer.empty[TracedOp]
      val samples = rng.shuffle(ops).map { op =>
        val id = nextSpan()
        val group = s"graftbench-op-$id"
        if (traced) sc.setJobGroup(group, op.key, interruptOnCancel = false)
        val c0 = if (traced) Counters.snapshot() else Map.empty[String, Double]
        val t0 = Clock.nowUs
        var callEnd = t0
        val ok =
          try {
            val df = SparkEntry.queries(op.key)(spark, a.fixture)
            callEnd = Clock.nowUs
            val d = Digest.of(df)
            if (d != op.expected) errors += s"${op.key}: digest $d, expected ${op.expected}"
            d == op.expected
          } catch { case e: Throwable =>
            errors += s"${op.key}: ${e.toString.take(300)}"
            false
          }
        val t1 = Clock.nowUs
        if (traced) {
          sc.clearJobGroup()
          val c1 = Counters.snapshot()
          val cachedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
          BenchBus.drain(sc)
          traces += TracedOp(id, passId, op.key, group, t0, math.max(callEnd, t0), t1, ok,
            c1.map { case (k, v) => k -> (v - c0(k)) }, cachedMb)
          bookkeepingUs += Clock.nowUs - t1
        }
        graft.operators.Caches.releaseScoped()
        Sample(op.key, (t1 - t0) / 1e6, ok)
      }
      val passEnd = Clock.nowUs
      val writeMb = (writeBytes() - w0) / 1e6
      if (traced) {
        BenchBus.drain(sc)
        sc.removeSparkListener(rec)
        spark.listenerManager.unregister(rec)
      }
      passSpans += Span(passId, 0, if (traced) "pass:traced" else "pass", passStart, passEnd)
      val wallS = (passEnd - passStart - bookkeepingUs) / 1e6
      val compiled = Counters.codegen() - cg0
      System.err.println(f"[perfbench] pass ${passSpans.size}${if (traced) " (traced)" else ""}: $wallS%.3f s, " +
        f"wrote $writeMb%.3f MB, compiled $compiled%.0f generated classes")
      Pass(traced, wallS, writeMb, samples, traces.toSeq)
    }

    val warm = runPass(traced = false)
    (1 to WarmupPasses(a.workload)).foreach(_ => runPass(traced = false))
    val measureStart = System.nanoTime()
    val setupS = (System.currentTimeMillis() - a.launchMs) / 1e3
    System.err.println(f"[perfbench] setup: session $sessionS%.2f s, warm-up ${setupS - sessionS}%.2f s")
    val passes = ArrayBuffer.empty[Pass]
    // the traced run alternates untraced and traced passes, so both see
    // the same warm state and their ratio is the tracing overhead
    val minUntraced = if (a.trace) TracedMinPasses else minPasses(ops.size)
    while (passes.count(!_.traced) < minUntraced || (a.trace && passes.count(_.traced) < TracedMinPasses) ||
      System.nanoTime() - measureStart < a.seconds * 1e9)
      passes += runPass(a.trace && passes.nonEmpty && !passes.last.traced)

    val untraced = passes.filterNot(_.traced).toSeq
    val lat = Sample.latencies(untraced.flatMap(_.samples))
    // None only in a traced run of a small workload, which reports no tail
    val tailP = Stats.tailPercentile(ops.size * minUntraced)
    def orNaN(f: => Double): Double = if (lat.isEmpty) Double.NaN else f
    val passWallS = Stats.median(untraced.map(_.wallS))
    val passS = orNaN(Stats.medianPass(untraced.flatMap(_.samples)))
    val e2e = ListMap(
      "setup_s" -> metric(setupS, "s"),
      "pass_s" -> metric(passS, "s"),
      "op_p50_s" -> metric(orNaN(Stats.median(lat)), "s"),
      "op_tail_s" -> metric(orNaN(tailP.fold(Double.NaN)(Stats.percentile(lat, _))), "s"),
      "write_mb" -> metric(Stats.median(untraced.map(_.writeMb)), "MB"))

    val attempted = untraced.map(_.samples.size).sum
    val failed = untraced.map(_.samples.count(!_.ok)).sum
    val warmFailed = warm.samples.count(!_.ok)
    errors.distinct.foreach(e => System.err.println(s"[perfbench] FAILED $e"))

    val metrics =
      if (!a.trace) e2e
      else {
        val traced = passes.filter(_.traced).toSeq
        val (rows, opSpans) = Attribution(rec, traced.flatMap(_.ops), a.cpus, spanId)
        val keys = rows.head.keys.filterNot(_ == "wall_s").toSeq.sorted
        val byPass = traced.map(_.ops.size).scanLeft(0)(_ + _).sliding(2).map { case Seq(i, j) => rows.slice(i, j) }.toSeq
        // per pass: sums over ops, except the cache peak
        val perLayer = keys.map { k =>
          val perPass = byPass.map(r =>
            if (k == "caches.cached_mb") r.map(_(k)).max else r.map(_(k)).sum)
          k -> metric(Stats.median(perPass), unitOf(k))
        }
        val expectedProbes = Files.readAllLines(a.bench.resolve("probes.tsv")).asScala.toSeq
          .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).map {
            case Array(n, r, s) => n -> Digest(r.toLong, BigInt(s))
            case l => throw new IllegalArgumentException(s"malformed probes line: ${l.mkString("\t")}")
          }.toMap
        val probes = Probes.run(spark, a.fixture, a.cpus, ProbeSeconds, expectedProbes)
        probes.filterNot(_.ok).foreach(p => errors += s"probe ${p.name}: digest ${p.digest}")
        val overhead = Stats.median(traced.map(_.wallS)) / passWallS
        val allSpans = passSpans.toSeq ++ opSpans
        val self = Spans.selfUs(allSpans)
        val opKeys = traced.flatMap(_.ops.map(_.key))
        val medians = rows.zip(opKeys).groupBy(_._2).toSeq.sortBy(_._1).map { case (key, rs) =>
          key -> ListMap(rs.head._1.keys.toSeq.sorted.map(k => k -> Stats.median(rs.map(_._1(k)))): _*)
        }
        writeArtifact(a, ListMap(
          "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cpus,
          "ops" -> ops.map(_.key),
          "trace.overhead_ratio" -> overhead,
          "untraced_pass_s" -> untraced.map(_.wallS),
          "traced_pass_s" -> traced.map(_.wallS),
          "end_to_end" -> e2e,
          "per_layer" -> ListMap(perLayer: _*),
          "per_op_median" -> ListMap(medians: _*),
          "op_rows" -> rows.zip(opKeys).map { case (r, k) => ListMap("key" -> k) ++ ListMap(r.toSeq.sortBy(_._1): _*) },
          "probes" -> probes.map(p => ListMap("name" -> p.name, "rows" -> p.rows, "reps" -> p.reps,
            "rows_per_s" -> p.rowsPerSec, "ok" -> p.ok, "digest" -> p.digest.toString)),
          "spans" -> allSpans.sortBy(_.startUs).map(s => ListMap("id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs, "self_us" -> self(s.id)))))
        ListMap(perLayer: _*) ++
          probes.map(p => s"functions.${p.name}_rows_per_s" -> metric(p.rowsPerSec, "1/s")) ++
          Seq("trace.overhead_ratio" -> metric(overhead, "ratio"))
      }

    val withHeap = if (a.trace) metrics else metrics + ("heap_mb" -> metric(heapMb(), "MB"))
    System.err.println(f"[perfbench] ${a.workload} seed ${a.seed}: ${ops.size} ops, " +
      f"${untraced.size} measured passes, ${lat.size} latency samples, " +
      tailP.fold("no tail percentile, ")(p => f"op_tail_s = p$p%.1f (${Stats.beyond(lat.size, p)} samples beyond), ") +
      f"op_fail_ratio = ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f")
    val warmS = warm.samples.map(s => s.key -> s.wallS).toMap
    untraced.flatMap(_.samples).filter(_.ok).groupBy(_.key).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      val base = if (Workloads.CachedBaseLanes(k)) " (builds its per-JVM base store)" else ""
      System.err.println(f"[perfbench] op $k%-36s median ${Stats.median(ss.map(_.wallS))}%.3f s (${ss.size}), " +
        f"warm-up ${warmS(k)}%.3f s$base")
    }
    val correct = failed == 0 && warmFailed == 0 && errors.isEmpty
    Files.writeString(a.result, Json(ListMap("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> withHeap)) + "\n")
    spark.stop()
    0
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB" else "count"

  private def writeArtifact(a: Args, v: Any): Unit = {
    Files.createDirectories(a.artifact.toAbsolutePath.getParent)
    Files.writeString(a.artifact, Json(v) + "\n")
  }

  /** Record mode: every engine key, assigned to its workload by the
    * partition rule (lifecycle gates, then `x*` keys, then the rest), run
    * twice in one JVM; prints one `ops.tsv` candidate
    * line per key with both passes' digests and walls, plus the probes'
    * digests, so expected values can be confirmed and checked for
    * run-to-run stability before they are committed.
    */
  def record(a: Args): Int = {
    val spark = session(a)
    def workloadOf(k: String): String =
      if (SparkEntry.lifecycleGates(k)) "store_maintenance"
      else if (k.startsWith("x")) "llm_corpus" else "query_mix"
    val keys = SparkEntry.queries.keys.toSeq.sortBy(k => (workloadOf(k), k))
    val lines = keys.map { k =>
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val d = try Digest.of(SparkEntry.queries(k)(spark, a.fixture)).toString
          catch { case e: Throwable => s"ERROR ${e.toString.take(200).replace('\t', ' ')}" }
        graft.operators.Caches.releaseScoped()
        (d, (System.nanoTime() - t0) / 1e9)
      }
      val line = Seq(workloadOf(k), k, runs(0)._1, runs(1)._1, f"${runs(0)._2}%.3f", f"${runs(1)._2}%.3f")
        .mkString("\t")
      System.err.println(s"[record] $line")
      line
    }
    val probes = Probes.run(spark, a.fixture, a.cpus, ProbeSeconds, Map.empty)
      .map(p => s"probe\t${p.name}\t${p.digest}\t${p.rowsPerSec}")
    Files.writeString(a.result, (lines ++ probes).mkString("", "\n", "\n"))
    spark.stop()
    0
  }
}

package graftbench

import java.nio.file.Paths
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  test("digest ignores row order and changes when a single value changes") {
    import spark.implicits._
    val rows = Seq((1L, "a", 1.5, Seq(1, 2)), (2L, "b", 2.5, Seq(3)), (3L, "c", 3.5, Nil))
    val base = Digest.of(rows.toDF("k", "s", "d", "arr"))
    assert(base.rows == 3)
    assert(Digest.of(rows.reverse.toDF("k", "s", "d", "arr").repartition(3)) == base)
    val oneChanged = rows.updated(1, (2L, "b", 2.5000001, Seq(3)))
    assert(Digest.of(oneChanged.toDF("k", "s", "d", "arr")) != base)
    val oneDropped = rows.take(2)
    assert(Digest.of(oneDropped.toDF("k", "s", "d", "arr")) != base)
  }

  test("digest covers map columns and duplicate column names") {
    val df = spark.sql("SELECT 1 AS a, 2 AS a, map('x', 1, 'y', 2) AS m")
    val other = spark.sql("SELECT 1 AS a, 2 AS a, map('x', 1, 'y', 3) AS m")
    assert(Digest.of(df).rows == 1)
    assert(Digest.of(df) != Digest.of(other))
  }

  test("the tail percentile leaves at least 10 samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    for (n <- 20 to 3000) {
      val p = Stats.tailPercentile(n).get
      assert(Stats.beyond(n, p) >= Stats.MinBeyond, s"n=$n p=$p")
      // distinct samples: exactly `beyond` of them lie above the value
      val xs = (1 to n).map(_.toDouble)
      assert(xs.count(_ > Stats.percentile(xs, p)) == Stats.beyond(n, p))
      // the rung chosen for n stays valid for every larger sample count
      assert(Stats.beyond(n + 1, p) >= Stats.beyond(n, p))
      // and it is the highest rung that qualifies
      Stats.Ladder.takeWhile(_ > p).foreach(q => assert(Stats.beyond(n, q) < Stats.MinBeyond))
    }
  }

  private def op(w: String, k: String) = Op(w, k, timed = true, Digest(1, 1))
  private val ops = Seq(op("query_mix", "q1"), op("llm_corpus", "x1"), op("store_maintenance", "s1"))

  test("the partition guard accepts an exact partition") {
    assert(Workloads.guard(ops, Set("q1", "x1", "s1")).keySet == Workloads.Names.toSet)
  }

  test("the partition guard rejects a missing, duplicated or unknown key") {
    val missing = intercept[IllegalArgumentException](Workloads.guard(ops, Set("q1", "x1", "s1", "q2")))
    assert(missing.getMessage.contains("in no workload: q2"))
    val dup = intercept[IllegalArgumentException](
      Workloads.guard(ops :+ op("llm_corpus", "q1"), Set("q1", "x1", "s1")))
    assert(dup.getMessage.contains("more than one workload: q1"))
    val unknown = intercept[IllegalArgumentException](Workloads.guard(ops, Set("q1", "x1")))
    assert(unknown.getMessage.contains("unknown key(s): s1"))
    intercept[IllegalArgumentException](Workloads.guard(ops :+ op("other", "z"), Set("q1", "x1", "s1", "z")))
  }

  test("the committed ops.tsv partitions every engine key") {
    val byWorkload = Workloads.guard(Workloads.load(Paths.get("ops.tsv")), graft.SparkEntry.queries.keySet)
    assert(byWorkload.values.map(_.size).sum == graft.SparkEntry.queries.size)
    assert(byWorkload("store_maintenance").map(_.key).toSet == graft.SparkEntry.lifecycleGates)
    assert(Workloads.CachedBaseLanes.subsetOf(graft.SparkEntry.lifecycleGates))
  }

  test("a failed op contributes no latency sample") {
    val samples = Seq(Sample("a", 1.0, ok = true), Sample("b", 0.01, ok = false), Sample("c", 2.0, ok = true))
    assert(Sample.latencies(samples) == Seq(1.0, 2.0))
    assert(Sample.latencies(Seq(Sample("b", 0.01, ok = false))).isEmpty)
  }

  test("the median pass sums each op's median and ignores bursts that slow most passes") {
    val quiet = for (p <- 1 to 5; (k, w) <- Seq("a" -> 1.0, "b" -> 2.0, "c" -> 3.0)) yield Sample(k, w, ok = true)
    assert(Stats.medianPass(quiet) == 6.0)
    // every fourth call is slowed by half: four of the five pass walls
    // are slowed, but no op has more than two slowed samples
    val burst = quiet.zipWithIndex.map { case (s, i) => if (i % 4 == 0) s.copy(wallS = s.wallS * 1.5) else s }
    assert(Stats.median(burst.grouped(3).map(_.map(_.wallS).sum).toSeq) == 6.5)
    assert(Stats.medianPass(burst) == 6.0)
    assert(Stats.medianPass(quiet :+ Sample("d", 0.01, ok = false)) == 6.0)
  }

  test("self time is span duration minus the union its children cover") {
    val spans = Seq(Span(1, 0, "op", 0, 100), Span(2, 1, "a", 10, 40), Span(3, 1, "b", 30, 60),
      Span(4, 1, "c", 90, 120))
    assert(Spans.selfUs(spans)(1) == 100 - 50 - 10)
    assert(Spans.selfUs(spans)(2) == 30)
  }
}

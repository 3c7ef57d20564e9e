package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables
import graft.functions.{MinHashSig, NGramHashes, SimHashSig, VectorFunctions}

/** Kernel probes for the `functions` layer: each public kernel over the
  * sf0.1 corpus, on inputs cached before timing, repeated until the probe
  * has run for its time budget. Every repetition's output digest is
  * checked against the recorded one.
  */
object Probes {
  final case class Result(name: String, rows: Long, reps: Int, rowsPerSec: Double, ok: Boolean,
                          digest: Digest)

  /** Queries per embedding in the dot-product probe, and copies of the
    * embeddings in the hyperplane probe: enough rows per repetition that
    * the kernel, not the job launch, dominates its time.
    */
  private val DotQueries = 64
  private val HyperplaneCopies = 16

  def run(spark: SparkSession, fixture: String, cpus: Int, secondsEach: Double,
          expected: Map[String, Digest]): Seq[Result] = {
    val docs = Tables.documents(spark, fixture)
      .filter(size(split(col("text"), " ")) >= 3)
      .select(split(col("text"), " ").as("toks"), graft.operators.Dedup.shingles(col("text")).as("sh"))
    val embs = Tables.embeddings(spark, fixture)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val queries = embs.orderBy("vec_id").limit(DotQueries).select(col("e").as("q"))
    val pairs = embs.crossJoin(broadcast(queries)).select(col("e"), col("q"))
    val wide = embs.crossJoin(spark.range(HyperplaneCopies)).select(col("e"))
    val kernels: Seq[(String, DataFrame, Column)] = Seq(
      ("minhash", docs, MinHashSig(col("sh"))),
      ("simhash", docs, SimHashSig(col("toks"))),
      ("ngram", docs, NGramHashes(col("toks"), 8)),
      ("dot_f64", pairs, VectorFunctions.dotF64(col("e"), col("q"))),
      ("hyperplane", wide, VectorFunctions.hyperplaneBands(col("e"), 16, 4)))
    kernels.map { case (name, input, kernel) =>
      val cached = input.repartition(cpus).persist()
      val rows = cached.count()
      val rates = scala.collection.mutable.ArrayBuffer.empty[Double]
      var ok = true
      var last = Digest(0, 0)
      val t0 = System.nanoTime()
      while (rates.size < 3 || System.nanoTime() - t0 < secondsEach * 1e9) {
        val s = System.nanoTime()
        last = Digest.of(cached.select(kernel.as("k")))
        rates += rows / ((System.nanoTime() - s) / 1e9)
        ok &&= expected.get(name).forall(_ == last)
      }
      cached.unpersist(blocking = true)
      Result(name, rows, rates.size, Stats.median(rates.toSeq), ok && expected.contains(name), last)
    }
  }
}

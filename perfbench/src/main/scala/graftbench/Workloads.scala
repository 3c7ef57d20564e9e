package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** One benchmark op: an engine query key, the workload it belongs to, and
  * the digest of its full sf0.1 result (confirmed once against the DuckDB
  * twin). `timed` marks the ops a default run measures; `--ops all` runs
  * every op of the workload.
  */
final case class Op(workload: String, key: String, timed: Boolean, expected: Digest)

object Workloads {
  val Names: Seq[String] = Seq("query_mix", "llm_corpus", "store_maintenance")

  /** Store-maintenance lanes whose base store comes from the engine's
    * per-JVM `StoreDirs.cachedBaseStore`: the base is built on the first
    * call in a process, so that part of their work lands in `setup_s`
    * (the warm-up pass) by design, and every measured call copies it.
    */
  val CachedBaseLanes: Set[String] = Set(
    "x2_evict_readmit", "x2_labels_incremental", "x2_labels_delete",
    "x3_ann_ivf_inc", "x3_ann_ivf_del", "x3_ann_ivf_ingest",
    "s11_date_evolve", "s11_date_ingest")

  /** Parse `ops.tsv`: `workload key timed rows hashsum`, tab-separated;
    * blank lines and `#` comments are skipped.
    */
  def parse(lines: Seq[String]): Seq[Op] =
    lines.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      l.split("\t") match {
        case Array(w, k, t, rows, sum) =>
          Op(w, k, t == "1", Digest(rows.toLong, BigInt(sum)))
        case _ => throw new IllegalArgumentException(s"malformed ops line: $l")
      }
    }

  def load(path: Path): Seq[Op] = parse(Files.readAllLines(path).asScala.toSeq)

  /** The partition guard: every engine key sits in exactly one workload,
    * every listed key exists in the engine, and every workload is known.
    * Fails loudly, naming the offending keys, rather than letting a
    * renamed or new query silently fall out of the benchmark.
    */
  def guard(ops: Seq[Op], engineKeys: Set[String]): Map[String, Seq[Op]] = {
    val badWorkload = ops.map(_.workload).distinct.filterNot(Names.contains)
    require(badWorkload.isEmpty, s"unknown workload(s): ${badWorkload.sorted.mkString(", ")}")
    val unknown = ops.map(_.key).filterNot(engineKeys).distinct
    require(unknown.isEmpty, s"workloads name unknown key(s): ${unknown.sorted.mkString(", ")}")
    val dup = ops.groupBy(_.key).collect { case (k, os) if os.size > 1 => k }
    require(dup.isEmpty, s"key(s) in more than one workload: ${dup.toSeq.sorted.mkString(", ")}")
    val missing = engineKeys.diff(ops.map(_.key).toSet)
    require(missing.isEmpty, s"key(s) in no workload: ${missing.toSeq.sorted.mkString(", ")}")
    val empty = Names.filterNot(n => ops.exists(o => o.workload == n && o.timed))
    require(empty.isEmpty, s"workload(s) with no timed op: ${empty.mkString(", ")}")
    ops.groupBy(_.workload)
  }
}

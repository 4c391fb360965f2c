package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One workload: untimed set-up, an untimed warm-up unit that runs the
  * full op mix from a fresh state, and a timed phase of fixed work. */
abstract class Workload(val spark: SparkSession, val work: Path, val seed: Long) {
  /** What `items_per_s` counts, per timed phase. */
  def items: Long
  def setup(tr: Tracer): Unit
  def warmupUnit(k: Int): Unit
  /** The timed schedule; `tag` names its fresh directories. */
  def timedPhase(ops: Ops, tr: Tracer, tag: String): Unit
  /** Failed correctness checks, empty when all pass. */
  def verify(): Seq[String]
  /** Standalone materialisations, traced runs only. */
  def standalone(tr: Tracer): Unit = ()
  /** Workload-specific per-layer metrics. */
  def layer(): Map[String, Double] = Map.empty

  def fresh(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

object Workload {
  /** Run every operator of a plan, keep nothing. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A row as one comparable string; nulls and NaNs spelled out. */
  def show(r: Row): String = r.toSeq.map(String.valueOf).mkString("|")

  def sameMultiset(what: String, got: Seq[String], want: Seq[String]): Option[String] =
    if (got.sorted == want.sorted) None
    else {
      val g = got.toSet; val w = want.toSet
      Some(s"$what: ${got.size} rows vs ${want.size} expected; " +
        s"unexpected ${(g -- w).take(3).mkString("; ")}; " +
        s"missing ${(w -- g).take(3).mkString("; ")}")
    }

  /** Order-independent checksum of a frame: row count, xor and modular
    * sum of per-row xxhash64. */
  def checksum(df: DataFrame): String = {
    val h = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), bit_xor(col("h")), sum(pmod(col("h"), lit(1000000007L))))
      .head()
    s"${r.getLong(0)}/${r.get(1)}/${r.get(2)}"
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val d = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Regular files under `root`, checksum side files excluded. */
  def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.endsWith(".crc")).toList
      finally s.close()
    }
  def bytes(root: Path): Long = files(root).map(Files.size).sum
}

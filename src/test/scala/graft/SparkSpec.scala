package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one [[GraftSession]] per suite run, built like
  * the production mains'. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String): String = s"/root/testdata/$dir"
  val sfSmoke = "/root/testdata/sf0.001"

  /** Deterministic ScalaCheck sampling (no scalatestplus bridge in the
    * offline dependency set): n samples from fixed seeds. */
  def samples[A](gen: org.scalacheck.Gen[A], n: Int = 30): Seq[A] =
    (1 to n).flatMap(i =>
      gen.apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong)))
}

object SparkSpec {
  // fixed 4 cores: PlanSpec's plan text carries the shuffle partition count
  lazy val session: SparkSession = GraftSession(4)
}

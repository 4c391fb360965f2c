package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import scala.jdk.CollectionConverters._

/** Guards for the one session and the one function install: every
  * session graft builds comes from [[GraftSession]], whose extension
  * installs the native expressions, and only [[SparkEntry.queries]]
  * registers them (for a session built without the extension). */
class GraftSessionSpec extends SparkSpec {

  private def mainSources: Seq[(Path, String)] =
    scala.util.Using.resource(Files.walk(Paths.get("src/main"))) { paths =>
      paths.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(f => f -> Files.readString(f)).toList
    }

  test("src/main builds sessions only in GraftSession and registers only in SparkEntry") {
    val sources = mainSources
    assert(sources.size > 40, "the scan must see the main sources")
    def offenders(needle: String, allowed: String*): Seq[String] =
      sources.collect { case (f, text) if text.contains(needle) &&
        !allowed.contains(f.getFileName.toString) => f.toString }
    assert(offenders("SparkSession.builder", "GraftSession.scala").isEmpty)
    assert(offenders("GraftFunctions.register(", "SparkEntry.scala").isEmpty)
    assert(offenders("ensureRegistered").isEmpty)
  }

  test("a SparkEntry query registers graft's functions into a session without them") {
    val foreign = spark.newSession()
    foreign.sessionState.functionRegistry.dropFunction(FunctionIdentifier("cosine_sim"))
    assert(!foreign.catalog.functionExists("cosine_sim"))
    intercept[org.apache.spark.sql.AnalysisException](
      foreign.sql("SELECT cosine_sim(array(1.0D), array(1.0D))").collect())
    val rows = SparkEntry.queries("q_similar_topk")(foreign, sfSmoke).collect()
    assert(rows.nonEmpty)
    assert(foreign.catalog.functionExists("cosine_sim"))
    assert(spark.catalog.functionExists("cosine_sim"))
  }

  test("a landed index's serving read plans the tombstone anti-join only once one is landed") {
    def antiJoins(name: String): Int = SparkEntry.queries(name)(spark, sfSmoke)
      .queryExecution.executedPlan.toString.split("LeftAnti").length - 1
    assert(antiJoins("q_similar_pq") == 0)
    assert(antiJoins("q_similar_pq_deleted") > 0)
  }
}

package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.sources.Fixtures

/** The raw LegiScan tree readers (S4/S5): how they list the tree and
  * which files they read. */
class FixturesSpec extends SparkSpec {

  private def jsonFiles(tree: String, kind: String): Seq[File] =
    new File(tree, "raw").listFiles().toSeq.filter(_.isDirectory)
      .sortBy(_.getName)
      .flatMap(s => new File(s, kind).listFiles().toSeq.sortBy(_.getName))
      .filter(_.getName.endsWith(".json"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("building the raw-tree readers starts no Spark job (S4/S5)") {
    // both trees are past the 32-path parallel-listing threshold, so a
    // per-file glob would list each with a Spark job at construction
    assert(jsonFiles(Fixtures.root, "bill").size > 32)
    assert(jsonFiles(Fixtures.root, "people").size > 32)
    val group = "fixtures-spec-readers"
    val marker = "fixtures-spec-marker"
    val jobs = new ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.put(e.jobId, g))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "readers")
      try {
        Fixtures.billsJson(spark)
        Fixtures.peopleJson(spark)
      } finally sc.clearJobGroup()
      // a marker job: listener events arrive in order, so once its start
      // is seen every job the readers started has been seen too
      sc.setJobGroup(marker, "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!jobs.containsValue(marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.containsValue(marker), "listener never saw the marker job start")
      assert(!jobs.containsValue(group), s"the readers started jobs: $jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("the raw-tree readers skip nested directories and non-JSON files (S4/S5)") {
    val bills = jsonFiles(Fixtures.root, "bill")
    val people = jsonFiles(Fixtures.root, "people")
    val session = bills.head.getParentFile.getParentFile.getName
    val tree = Files.createTempDirectory("graft-raw-tree").toString
    def put(src: File, to: String): Unit = {
      val dst = new File(tree, s"raw/$session/$to")
      dst.getParentFile.mkdirs()
      Files.copy(src.toPath, dst.toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    bills.take(3).foreach(f => put(f, s"bill/${f.getName}"))
    people.take(2).foreach(f => put(f, s"people/${f.getName}"))
    try {
      val flatBills = rows(Fixtures.billsJson(spark, tree))
      val flatPeople = Fixtures.peopleJson(spark, tree)
      assert(flatBills.size === 3)
      assert(flatPeople.select("session").collect().map(_.getString(0)).toSeq ===
        Seq(session, session), "the session must come from the directory path")
      val flatPeopleRows = rows(flatPeople)
      // valid LegiScan JSON the reference's non-recursive `list.files`
      // would not pick up: nested directories and a non-JSON name
      put(bills(3), "bill/old/x.json")
      put(bills(4), "bill/notes.txt")
      put(people(2), "people/old/x.json")
      assert(rows(Fixtures.billsJson(spark, tree)) === flatBills)
      assert(rows(Fixtures.peopleJson(spark, tree)) === flatPeopleRows)
    } finally FileUtils.deleteQuietly(new File(tree))
  }
}

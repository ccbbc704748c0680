package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.schema.Tables

/** [[Tables]] is the one fixture read path: its declared schemas must
  * equal what Spark infers from the files (else a renamed column reads
  * as nulls), a read must start no Spark job (the reason it exists),
  * and no other file in `src/main` may read a fixture parquet inline.
  */
class TablesSpec extends SparkSpec {

  private val fixtureDirs =
    Seq(sf("sf0.001"), sf("sf0.01"), sf("sf0.1"), "perfbench/data/sf0.01")

  test("every declared schema equals the inferred one at every fixture scale") {
    assert(Tables.schemas.size == 10)
    for (dir <- fixtureDirs; (name, declared) <- Tables.schemas) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(declared == inferred,
        s"$dir/$name: declared ${declared.toDDL} vs inferred ${inferred.toDDL}")
      assert(Tables.read(spark, dir, name).schema == inferred, s"$dir/$name")
    }
  }

  test("an unknown table name throws instead of inferring") {
    val e = intercept[IllegalArgumentException](Tables.read(spark, sf(), "posts"))
    assert(e.getMessage.contains("posts"))
  }

  test("a declared read starts no Spark job; an inferred read starts one") {
    val dir = sf("sf0.01")
    Tables.schemas.keys.foreach { name =>
      assert(jobsStarted(Tables.read(spark, dir, name)) == 0, name)
      assert(jobsStarted(spark.read.parquet(s"$dir/$name.parquet")) >= 1,
        s"$name: the probe must see the inference job")
    }
  }

  test("no file under src/main but Tables.scala reads a fixture parquet inline") {
    val inline = """read\.(?:schema\([^)]*\)\.)?parquet\([^)]*\.parquet"""".r
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val tables = files.find(_.endsWith("schema/Tables.scala"))
    assert(tables.exists(f => inline.findFirstIn(Files.readString(f)).isDefined),
      "the guard must match the one read it allows")
    val offenders = files.filterNot(_.endsWith("schema/Tables.scala"))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if inline.findFirstIn(line).isDefined => s"$f:${i + 1}: $line"
        }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}

package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The shared session is the one `core.GraftSession` builds, and no other
  * file under `src/` starts Spark its own way. */
class GraftSessionSpec extends SparkSpec {

  test("the shared session resolves the GraftExtensions functions in SQL") {
    val r = spark.sql(
      "SELECT dot_f32(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) AS d, " +
        "sorted_intersect_size(array('a','b','c'), array('b','c','d')) AS n")
      .head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)
  }

  test("the shared session runs in UTC with bounded plan strings") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.maxPlanStringLength") == "8388608")
  }

  test("no Scala file under src/ but core/GraftSession.scala builds a session") {
    val walk = Files.walk(Paths.get("src"))
    val scala = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
    finally walk.close()
    assert(scala.size > 100, s"expected the source tree, found ${scala.size} files")
    val factory = Paths.get("src/main/scala/graft/core/GraftSession.scala")
    val needle = "SparkSession" + ".builder" // split so this file does not match
    val builders = scala.filter(p => Files.readString(p).contains(needle))
    assert(builders.map(_.normalize) == List(factory.normalize),
      s"SparkSession builders outside the factory: ${builders.mkString(", ")}")
  }
}

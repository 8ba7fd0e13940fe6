package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The session-settings rule, without a SparkSession, and a source scan
  * that keeps [[Sessions]] the only place in `src/main` a session is
  * built, so no main can copy its own builder (and its own idea of the
  * master, shuffle width or time zone) back in.
  */
class SessionsSpec extends AnyFlatSpec with Matchers {

  behavior of "Sessions.settings"

  it should "leave a master that is already set alone" in {
    val s = Sessions.settings(4, Some("spark://host:7077")).toMap
    s.get("spark.master") shouldBe None
  }

  it should "set local[cpus] when no master is set" in {
    Sessions.settings(6, None).toMap.get("spark.master") shouldBe
      Some("local[6]")
  }

  it should "always set shuffle partitions to cpus" in {
    for (master <- Seq(None, Some("yarn")); cpus <- Seq(1, 4, 16))
      Sessions.settings(cpus, master).toMap
        .get("spark.sql.shuffle.partitions") shouldBe Some(cpus.toString)
  }

  behavior of "src/main"

  it should "call SparkSession.builder in exactly one file" in {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f)
        else Nil
      }
    val all = files(new java.io.File("src/main/scala"))
    all should not be empty
    val builders = all.filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.mkString.contains("SparkSession.builder") finally src.close()
    }.map(_.getName)
    builders shouldBe Seq("Sessions.scala")
  }
}

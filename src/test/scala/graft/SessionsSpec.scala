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
    val s = Sessions.settings(4, Set("spark.master")).toMap
    s.get("spark.master") shouldBe None
  }

  it should "set local[cpus] when no master is set" in {
    Sessions.settings(6, Set.empty[String]).toMap
      .get("spark.master") shouldBe Some("local[6]")
  }

  it should "set shuffle partitions to cpus only when absent" in {
    val key = "spark.sql.shuffle.partitions"
    for (master <- Seq(Set.empty[String], Set("spark.master"));
         cpus <- Seq(1, 4, 16)) {
      Sessions.settings(cpus, master).toMap.get(key) shouldBe
        Some(cpus.toString)
      Sessions.settings(cpus, master + key).toMap.get(key) shouldBe None
    }
  }

  it should "leave every preset key but the UTC time zone alone" in {
    val all = Sessions.settings(4, Set.empty[String]).map(_._1)
    all should contain allOf ("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.session.timeZone", "spark.ui.enabled")
    Sessions.settings(4, all.toSet) shouldBe
      Seq("spark.sql.session.timeZone" -> "UTC")
  }

  behavior of "Sessions.timeZoneOverride"

  it should "name both zones when a preset zone other than UTC is " +
    "overridden" in {
    val w = Sessions.timeZoneOverride(Some("America/New_York"))
    w.get should include("spark.sql.session.timeZone = America/New_York")
    w.get should include("overridden with UTC")
    Sessions.timeZoneOverride(Some("UTC")) shouldBe None
    Sessions.timeZoneOverride(None) shouldBe None
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

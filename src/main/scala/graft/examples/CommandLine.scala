package graft.examples

import graft.Sessions
import graft.feature.{FeatureSelector, RowSelector}
import graft.util.Gen
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.io.Source

/** CLI parity shim for the reference's `CommandLine`
  * (`reference:src/main/scala/ifs/examples/CommandLine.scala:180-245`,
  * SURVEY.md §2 S15) — same two subcommands over headerless integer CSVs,
  * with plain-args parsing (the reference's scallop dependency is not
  * available offline; the flag surface is preserved).
  *
  * {{{
  *   runMain graft.examples.CommandLine gen --rows R --cols C \
  *     [--file conv.csv] [--alt-file alt.csv --labels lab.csv] [--seed S]
  *   runMain graft.examples.CommandLine select --num-features N \
  *     [--file conv.csv] [--alt-file alt.csv --labels lab.csv]
  * }}}
  *
  * `select` with both encodings also prints the reference's own
  * cross-encoding check banner (`reference:CommandLine.scala:167-169`).
  */
object CommandLine {

  private[examples] val Usage: String =
    "usage: gen --rows R --cols C [--file F] [--alt-file A --labels L]" +
      " [--seed S] | select [--num-features N] [--file F]" +
      " [--alt-file A --labels L]"

  // ---- parsing + validation ----------------------------------------------
  //
  // Same rules the reference enforces through scallop
  // (`reference:CommandLine.scala:239-244`): `--alt-file` and `--labels`
  // are codependent, at least one of `--file` / `--alt-file` is required,
  // and numeric options must be positive integers — every violation is a
  // clean usage message (exit 2), never a MatchError/KeyError stack trace.

  private[examples] sealed trait Cmd
  private[examples] final case class GenCmd(rows: Int, cols: Int,
      file: Option[String], alt: Option[(String, String)],
      seed: Option[Long]) extends Cmd
  private[examples] final case class SelectCmd(numFeatures: Int,
      file: Option[String], alt: Option[(String, String)]) extends Cmd

  private def flags(rest: Seq[String],
                    known: Set[String]): Either[String, Map[String, String]] =
    rest.grouped(2).foldLeft(
      Right(Map.empty): Either[String, Map[String, String]]) {
      case (acc, Seq(k, v)) if k.startsWith("--") =>
        val name = k.drop(2)
        acc.flatMap { m =>
          if (!known(name)) Left(s"unknown option --$name")
          else if (m.contains(name)) Left(s"duplicate option --$name")
          else if (v.startsWith("--")) Left(s"option --$name needs a value")
          else Right(m.updated(name, v))
        }
      case (acc, Seq(k, _)) => acc.flatMap(_ => Left(s"expected an option, got '$k'"))
      case (acc, Seq(k)) =>
        acc.flatMap(_ =>
          if (k.startsWith("--")) Left(s"option $k needs a value")
          else Left(s"unexpected trailing argument '$k'"))
      case (acc, _) => acc
    }

  private def posInt(f: Map[String, String], name: String,
                     default: Option[Int] = None): Either[String, Int] =
    f.get(name) match {
      case None => default.toRight(s"--$name is required")
      case Some(v) =>
        v.toIntOption.filter(_ > 0)
          .toRight(s"--$name must be a positive integer, got '$v'")
    }

  private def altPair(
      f: Map[String, String]): Either[String, Option[(String, String)]] =
    (f.get("alt-file"), f.get("labels")) match {
      case (Some(a), Some(l)) => Right(Some((a, l)))
      case (None, None) => Right(None)
      case _ => Left("--alt-file and --labels are codependent " +
        "(both or neither)")
    }

  private[examples] def parse(args: Seq[String]): Either[String, Cmd] =
    args match {
      case "gen" +: rest =>
        for {
          f <- flags(rest,
            Set("rows", "cols", "file", "alt-file", "labels", "seed"))
          rows <- posInt(f, "rows")
          cols <- posInt(f, "cols")
          alt <- altPair(f)
          _ <- Either.cond(f.contains("file") || alt.nonEmpty, (),
            "at least one of --file / --alt-file+--labels is required")
          seed <- f.get("seed") match {
            case None => Right(None)
            case Some(v) => v.toLongOption.map(Some(_))
              .toRight(s"--seed must be an integer, got '$v'")
          }
        } yield GenCmd(rows, cols, f.get("file"), alt, seed)
      case "select" +: rest =>
        for {
          f <- flags(rest,
            Set("num-features", "file", "alt-file", "labels"))
          k <- posInt(f, "num-features", default = Some(10))
          alt <- altPair(f)
          _ <- Either.cond(f.contains("file") || alt.nonEmpty, (),
            "at least one of --file / --alt-file+--labels is required")
        } yield SelectCmd(k, f.get("file"), alt)
      case cmd +: _ => Left(s"unknown subcommand '$cmd'")
      case _ => Left("missing subcommand")
    }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Right(g: GenCmd) => gen(g)
    case Right(s: SelectCmd) => select(s)
    case Left(err) =>
      System.err.println(s"error: $err")
      System.err.println(Usage)
      sys.exit(2)
  }

  private def gen(cmd: GenCmd): Unit =
    Gen.randomMatricesToCsv(cmd.rows, cmd.cols, cmd.file, cmd.alt, cmd.seed)

  private def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("inferSchema", "true").csv(path)

  private def select(cmd: SelectCmd): Unit = {
    val k = cmd.numFeatures
    val spark = Sessions.getOrCreate(Sessions.builder(4))

    // conventional: col _c0 is the label, the rest are features
    val conv = cmd.file.map { path =>
      val df = readCsv(spark, path).withColumnRenamed("_c0", "label")
      val featureCols = df.columns.filter(_ != "label")
      val assembled = new VectorAssembler()
        .setInputCols(featureCols).setOutputCol("features").transform(df)
      val t0 = System.nanoTime()
      val model = new FeatureSelector()
        .setNumTopFeatures(k)
        .setLabelCol("label").setFeaturesCol("features")
        .setOutputCol("selected")
        .fit(assembled)
      val ms = (System.nanoTime() - t0) / 1e6
      // CSV column i+1 (_c{i+1}) is feature index i
      println(f"conventional selection: " +
        s"${model.selectedFeatures.mkString(", ")}  [${math.round(ms)} ms]")
      model.selectedFeatures.toSeq.map(_.toLong)
    }

    // alternate: one CSV row per feature + a driver-side labels file
    // (read with scala.io.Source, like reference:CommandLine.scala:119-124)
    val alt = cmd.alt.map { case (path, labelsPath) =>
      val src = Source.fromFile(labelsPath)
      val labels =
        try src.mkString.trim.split(",").map(_.trim.toDouble)
        finally src.close()
      val df = readCsv(spark, path)
        .withColumn("id", monotonically_increasing_id())
      val assembled = new VectorAssembler()
        .setInputCols(df.columns.filter(_ != "id")).setOutputCol("features")
        .transform(df)
      val t0 = System.nanoTime()
      val model = new RowSelector()
        .setNumTopRows(k).setIdCol("id").setFeaturesCol("features")
        .setLabelVector(labels).setOutputCol("picked")
        .fit(assembled)
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"alternate    selection: " +
        s"${model.selectedRows.mkString(", ")}  [${math.round(ms)} ms]")
      model.selectedRows.toSeq
    }

    for (c <- conv; a <- alt) {
      println(if (c == a) "SELECTED FEATURES ARE IDENTICAL"
      else "SELECTED FEATURES DIFFER")
    }
    spark.stop()
  }
}

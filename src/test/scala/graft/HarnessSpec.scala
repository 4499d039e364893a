package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Harness.consume` evaluates every column of its frame, so an error in any
  * projected value surfaces; and it is the only consume (and
  * `Harness.session` the only session builder) in the main sources. */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("consume throws on a column that fails only for some rows; count() does not") {
    val df = spark.range(5).select(col("id"),
      when(col("id") === 2, raise_error(lit("row 2 is bad")))
        .otherwise(col("id") * 10).as("checked"))
    // count() prunes the failing column, so it never evaluates it
    assert(df.count() === 5)
    val e = intercept[Exception](Harness.consume(df))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("row 2 is bad"))))
  }

  test("consume returns on long, decimal, string, array and struct columns") {
    val df = spark.range(3).select(
      col("id"),
      (col("id") / 3).cast("decimal(38,12)").as("dec"),
      concat(lit("s"), col("id").cast("string")).as("str"),
      array(col("id"), col("id") + 1).as("arr"),
      struct(col("id").as("a"), lit("b").as("b")).as("st"))
    Harness.consume(df)
  }

  test("the scratch directory defaults to target/scratch under the working directory") {
    assume(sys.env.get("GRAFT_SCRATCH").isEmpty, "GRAFT_SCRATCH is set")
    assert(Paths.get(graft.queries.Sinks.scratchDir) ==
      Paths.get(sys.props("user.dir"), "target", "scratch"))
  }

  test("only Harness.scala builds a session or pastes the all-column consume") {
    val root = Paths.get(sys.props("user.dir"), "src", "main", "scala")
    assert(Files.isDirectory(root), s"main sources not found at $root")
    val patterns = Seq(
      "SparkSession.builder" -> raw"SparkSession\s*\.\s*builder".r,
      "xxhash64(<frame>.columns ...)" -> raw"xxhash64\(\s*\w+\s*\.\s*columns".r,
      "bit_xor" -> raw"bit_xor".r)
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.exists(_.endsWith(Paths.get("graft", "Harness.scala"))))
    val offenders = for {
      f <- files if !f.endsWith(Paths.get("graft", "Harness.scala"))
      text = Files.readString(f)
      (name, re) <- patterns if re.findFirstIn(text).nonEmpty
    } yield s"${root.relativize(f)}: $name"
    assert(offenders.isEmpty,
      s"use graft.Harness.session / graft.Harness.consume instead: $offenders")
  }
}

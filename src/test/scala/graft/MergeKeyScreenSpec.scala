package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.MiniDelta

/** The keyed MERGE's source-key screen (duplicate-key refusal plus the
  * per-key [min, max] bounds that prune the target's files) has two
  * arms: a source whose rows sit in the driver is answered there, any
  * other source runs one aggregation. Each case runs the same source
  * through both arms and requires the same answer. */
class MergeKeyScreenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Both arms' answers for `src` over `keys`, and the jobs the driver
    * rows' screen ran. */
  private def arms(src: DataFrame, keys: Seq[String])
      : ((Seq[String], Row), (Seq[String], Row), Seq[TestSpark.CensusJob]) = {
    val (local, jobs) = TestSpark.jobsDuring(MiniDelta.mergeKeyBounds(src, keys))
    (local, MiniDelta.mergeKeyBounds(src.repartition(2), keys), jobs)
  }

  private def refused(src: DataFrame): Boolean = {
    val t = Files.createTempDirectory("keyscreen").toString + "/t"
    MiniDelta.append(spark, Seq((1L, "a")).toDF("k", "v"), t, Seq.empty)
    val e = intercept[IllegalArgumentException](
      MiniDelta.merge(spark, t, src, Seq("k"), Seq.empty))
    e.getMessage.contains("duplicate keys")
  }

  test("duplicate keys: the same group size on both arms, refused on both") {
    val src = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
    val (local, dist, jobs) = arms(src, Seq("k"))
    assert(local == dist)
    assert(local == ((Seq("k"), Row(2L, 1L, 2L))), local)
    assert(jobs.isEmpty, jobs)
    assert(refused(src) && refused(src.repartition(2)))
  }

  test("two null-key rows form one group and are refused on both arms") {
    val src = Seq[(Option[Long], String)]((None, "a"), (None, "b"),
      (Some(3L), "c")).toDF("k", "v")
    val (local, dist, jobs) = arms(src, Seq("k"))
    assert(local == dist)
    assert(local == ((Seq("k"), Row(2L, 3L, 3L))), local)
    assert(jobs.isEmpty, jobs)
    assert(refused(src) && refused(src.repartition(2)))
  }

  test("an empty source has null bounds on both arms and merges nothing") {
    val src = Seq.empty[(Long, String)].toDF("k", "v")
    val (local, dist, jobs) = arms(src, Seq("k"))
    assert(local == dist)
    assert(local == ((Seq("k"), Row(null, null, null))), local)
    assert(jobs.isEmpty, jobs)
    for (s <- Seq(src, src.repartition(2))) {
      val t = Files.createTempDirectory("keyscreen").toString + "/t"
      MiniDelta.append(spark, Seq((1L, "a")).toDF("k", "v"), t, Seq.empty)
      MiniDelta.merge(spark, t, s, Seq("k"), Seq.empty)
      MiniDelta.invalidateSnapshot(t)
      assert(MiniDelta.readFiltered(spark, t, Seq.empty).select("k", "v")
        .as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    }
  }

  test("string, date and decimal keys bound alike on both arms") {
    val src = Seq(
      ("b", java.sql.Date.valueOf("2024-03-01"), BigDecimal("10.25")),
      ("a", java.sql.Date.valueOf("2024-01-15"), BigDecimal("-3.50")),
      ("é", java.sql.Date.valueOf("2023-12-31"), BigDecimal("7.00")),
      (null, null, null))
      .toDF("s", "d", "m")
      .withColumn("m", col("m").cast("decimal(10,2)"))
    val keys = Seq("s", "d", "m")
    val (local, dist, jobs) = arms(src, keys)
    assert(local == dist)
    assert(local == ((keys, Row(1L, "a", "é",
      java.sql.Date.valueOf("2023-12-31"), java.sql.Date.valueOf("2024-03-01"),
      new java.math.BigDecimal("-3.50"), new java.math.BigDecimal("10.25")))),
      local)
    assert(jobs.isEmpty, jobs)
  }

  test("a double key takes the aggregate arm: -0.0 and 0.0 group as one") {
    val src = Seq((1.5, "a"), (-0.0, "b"), (0.0, "c")).toDF("x", "v")
    val (local, dist, jobs) = arms(src, Seq("x"))
    assert(local == dist)
    assert(local._2.getLong(0) == 2L, local)
    assert(local._2.getDouble(2) == 1.5, local)
    assert(jobs.nonEmpty)
  }
}

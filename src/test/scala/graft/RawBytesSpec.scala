package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.io.RawBytes

class RawBytesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("binaryFile scan + HEAD + ranged slice") {
    val dir = Files.createTempDirectory("rawbytes")
    Files.write(dir.resolve("a.bin"), "0123456789".getBytes("UTF-8"))
    Files.write(dir.resolve("b.bin"), Array[Byte](0, 1, 2, 3, -1, -2))

    val df = RawBytes.read(spark, dir.toString, "*.bin")
    assert(df.count() == 2)

    val headRow = RawBytes.head(spark, dir.toString)
      .where(org.apache.spark.sql.functions.col("path").endsWith("a.bin"))
      .collect()(0)
    assert(headRow.getAs[Long]("length") == 10L)

    // bytes=0-4 -> "01234" (the reference's range fixture,
    // tests/test_proxy_integration.py:133-145)
    val ranged = RawBytes.ranged(df, 0, 5)
      .where(org.apache.spark.sql.functions.col("path").endsWith("a.bin"))
      .collect()(0)
    assert(new String(ranged.getAs[Array[Byte]]("range_content"), "UTF-8")
      == "01234")
    assert(ranged.getAs[Long]("range_len") == 5L)

    // binary fidelity incl. high bytes (test_proxy_integration.py:121-131)
    val b = df.where(org.apache.spark.sql.functions.col("path")
      .endsWith("b.bin")).collect()(0).getAs[Array[Byte]]("content")
    assert(b.toSeq == Seq[Byte](0, 1, 2, 3, -1, -2))
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("ranged: driver and distributed arms agree past EOF and on empty ranges") {
    val dir = Files.createTempDirectory("rawbytes arms")
    Files.write(dir.resolve("a.bin"), "0123456789".getBytes("UTF-8"))
    Files.write(dir.resolve("b.bin"), Array[Byte](0, 1, 2, 3, -1, -2))
    val df = RawBytes.read(spark, dir.toString, "*.bin")
    for ((start, len) <- Seq((0L, 5L), (4L, 100L), (100L, 5L), (6L, 4L),
                             (3L, 0L), (0L, 0L))) {
      val local = RawBytes.ranged(df, start, len)
      val dist = RawBytes.ranged(df.repartition(3), start, len)
      assert(isLocal(local) && !isLocal(dist))
      assert(!local.columns.contains("content") &&
        !dist.columns.contains("content"))
      assert(rowsOf(local) == rowsOf(dist), (start, len))
    }
    val past = RawBytes.ranged(df, 8, 5)
      .where(org.apache.spark.sql.functions.col("path").endsWith("b.bin"))
      .collect()(0)
    assert(past.getAs[Long]("range_len") == 0L &&
      past.getAs[Array[Byte]]("range_content").isEmpty)
    val tail = RawBytes.ranged(df, 8, 5)
      .where(org.apache.spark.sql.functions.col("path").endsWith("a.bin"))
      .collect()(0)
    assert(new String(tail.getAs[Array[Byte]]("range_content"), "UTF-8") == "89")
    assert(tail.getAs[Long]("range_len") == 2L)
    // the driver arm runs no Spark job
    val (_, jobs) = TestSpark.jobsDuring(
      RawBytes.ranged(RawBytes.read(spark, dir.toString, "a.bin"), 2, 3)
        .select("range_content").collect())
    assert(jobs.isEmpty, jobs)
  }

  test("ranged: a negative start or length raises on both arms") {
    val dir = Files.createTempDirectory("rawbytes")
    Files.write(dir.resolve("a.bin"), "0123456789".getBytes("UTF-8"))
    val df = RawBytes.read(spark, dir.toString)
    for (in <- Seq(df, df.repartition(3))) {
      val s = intercept[IllegalArgumentException](RawBytes.ranged(in, -8, 8))
      assert(s.getMessage.contains("start"), s.getMessage)
      val l = intercept[IllegalArgumentException](RawBytes.ranged(in, 0, -1))
      assert(l.getMessage.contains("len"), l.getMessage)
    }
  }

  test("ranged: a sparse object past binaryFile.maxLength reads its tail") {
    val dir = Files.createTempDirectory("rawbytes-sparse")
    val f = dir.resolve("big.bin").toFile
    val size = 3L << 30
    val raf = new java.io.RandomAccessFile(f, "rw")
    try {
      raf.setLength(size)
      raf.seek(size - 4)
      raf.write("PAR1".getBytes("US-ASCII"))
    } finally raf.close()
    try {
      val df = RawBytes.read(spark, dir.toString, "big.bin")
      for (in <- Seq(df, df.repartition(3))) {
        val r = RawBytes.ranged(in, size - 8, 8).collect()(0)
        assert(r.getAs[Long]("length") == size)
        assert(r.getAs[Long]("range_len") == 8L)
        assert(r.getAs[Array[Byte]]("range_content").toSeq ==
          (Seq[Byte](0, 0, 0, 0) ++ "PAR1".getBytes("US-ASCII").toSeq))
      }
    } finally { f.delete(); () }
  }
}

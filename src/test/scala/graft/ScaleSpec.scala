package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Scale.{Out, Timing}

class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = graft.sql.SparkTestSession.spark

  private lazy val root = Files.createTempDirectory("scale-spec").toFile

  override def afterAll(): Unit = {
    def delete(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(delete))
      f.delete()
    }
    delete(root)
  }

  private def withPartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, before)
  }

  // 1600 rows: 10 dissolve keys, 40 kNN queries, one Hausdorff layer track
  Scale.table.foreach { case (name, (_, at)) =>
    test(s"$name: every leg returns the same units and checksum at 3 and 8 shuffle partitions") {
      val w = at(1600L)
      val dir = w.input.fold("") { in =>
        val d = new File(root, in.name).getPath
        if (!new File(d).exists()) in.write(spark, d)
        d
      }
      // the N and 4N legs share one action; run each distinct action once
      val outs = for (p <- Seq(3, 8); run <- w.legs.map(_.run).distinct)
        yield withPartitions(p)(run(spark, dir))
      assert(outs.map(o => (o.units, o.checksum)).distinct.size == 1,
        outs.mkString(", "))
      assert(outs.head.units > 0)
    }
  }

  test("the pure writer keeps the minimum per leg and derives N-vs-4N efficiency") {
    val out = Out(100L, 42L, Seq("groups" -> "7"))
    val line = Scale.json("w", 100L, 2, "rows", Seq(
      Timing("N", 2, Seq(4.0, 2.0), Seq(out, out)),
      Timing("4N", 8, Seq(0.625, 1.5), Seq(out, out))))
    // N: 100 / 2.0 = 50 units/s; 4N: 100 / 0.625 = 160 units/s; 160 / (4 * 50)
    assert(line.contains(""""secs":[4.000,2.000],"min_secs":2.000,"units_per_sec":50,"groups":7"""))
    assert(line.contains(""""min_secs":0.625,"units_per_sec":160"""))
    assert(line.contains(""""units":100,"checksum":42"""))
    assert(line.endsWith(""""scaling_efficiency":0.800}"""))

    // variant legs at one core count carry no efficiency
    val variants = Scale.json("w", 100L, 2, "rows", Seq(
      Timing("a", 8, Seq(1.0), Seq(out)), Timing("b", 8, Seq(2.0), Seq(out))))
    assert(!variants.contains("scaling_efficiency"))
  }

  test("the writer refuses legs whose checksums differ") {
    val e = intercept[IllegalStateException](Scale.json("w", 100L, 2, "rows", Seq(
      Timing("N", 2, Seq(1.0, 1.0), Seq(Out(100L, 42L), Out(100L, 42L))),
      Timing("4N", 8, Seq(1.0, 1.0), Seq(Out(100L, 42L), Out(100L, 43L))))))
    assert(e.getMessage.contains("4N=(100, 43)"))
  }
}

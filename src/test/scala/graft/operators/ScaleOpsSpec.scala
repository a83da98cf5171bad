package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin matches plain join results") {
    val large = (1 to 1000).map(i => (i % 3, s"v$i")).toDF("k", "v") // key skew: 3 keys
    val dim = Seq((0, "zero"), (1, "one"), (2, "two")).toDF("k", "name")
    val expected = large.join(dim, Seq("k")).collect().map(_.toSeq).toSet
    val got = ScaleOps.saltedJoin(large, dim, Seq("k"), saltFactor = 4).collect().map(_.toSeq).toSet
    assert(got == expected)
    assert(got.size == 1000)
  }

  test("saltedJoin's plan prints its salt values, not an array identity") {
    val large = Seq((1, "a")).toDF("k", "v")
    val dim = Seq((1, "one")).toDF("k", "name")
    val plan = ScaleOps.saltedJoin(large, dim, Seq("k"), saltFactor = 4)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("@"), plan)
    assert(plan.contains("[0,1,2,3]"), plan)
  }

  test("saltedJoin left join keeps unmatched rows exactly once") {
    val large = Seq((1, "a"), (9, "nomatch")).toDF("k", "v")
    val dim = Seq((1, "one")).toDF("k", "name")
    val got = ScaleOps.saltedJoin(large, dim, Seq("k"), saltFactor = 4, joinType = "left")
      .collect()
    assert(got.length == 2)
    assert(got.count(_.isNullAt(2)) == 1)
  }

  test("partitioned write prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/t"
    val df = Seq(("F", 1L), ("O", 2L), ("P", 3L), ("F", 4L)).toDF("status", "k")
    df.write.mode("overwrite").partitionBy("status").parquet(dir)
    val read = spark.read.parquet(dir).where($"status" === "F")
    assert(read.collect().map(_.getAs[Long]("k")).sorted.toSeq == Seq(1L, 4L))
    val scan = read.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    // the status predicate became a partition filter (directory pruning),
    // and only the status=F partition is actually read
    assert(scan.partitionFilters.exists(_.toString.contains("status")))
    assert(scan.dataFilters.isEmpty)
    val scanned = scan.relation.location.listFiles(scan.partitionFilters, Nil)
      .flatMap(_.files.map(_.getPath.toString))
    assert(scanned.nonEmpty && scanned.forall(_.contains("status=F")))
  }

  test("bucketed tables join without a shuffle exchange") {
    val warehouse = java.nio.file.Files.createTempDirectory("graft-wh").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1 to 500).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = (1 to 500).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      ScaleOps.writeBucketed(a, "bucketed_a", 4, Seq("k"))
      ScaleOps.writeBucketed(b, "bucketed_b", 4, Seq("k"))
      val joined = ScaleOps.colocatedJoin(spark, "bucketed_a", "bucketed_b", Seq("k"))
      assert(joined.count() == 500)
      val shuffles = joined.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty, s"expected shuffle-free co-located join, got:\n${joined.queryExecution.executedPlan}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bucketed_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("zValue2 interleaves bits: hand-checked Morton codes") {
    import org.apache.spark.sql.functions._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (7L, 7L))
      .toDF("x", "y")
    val got = df.select(ScaleOps.zValue2(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0))
    // z(3,5): x=011, y=101 -> bits 0,2 from x(1,1), bits 1,5 from y(1,1),
    // bit3 from y1=0, bit4 from x2=0 -> 1+2+4+32 = 39; z(7,7) = 63
    assert(got.toSeq === Seq(0L, 1L, 2L, 39L, 63L))
  }

  test("zValueN: 3-D hand-checked Morton codes; rejects overflowing widths") {
    import org.apache.spark.sql.functions._
    val df = Seq((0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (1L, 1L, 1L), (3L, 0L, 2L)).toDF("x", "y", "z")
    val got = df.select(
        ScaleOps.zValueN(Seq(col("x"), col("y"), col("z")), bits = 15).as("m"))
      .collect().map(_.getLong(0))
    // bit i of col j -> output bit 3i+j. (1,1,1) -> bits 0,1,2 = 7;
    // (3,0,2): x bits 0,1 -> out 0,3; z bit 1 -> out 5 -> 1+8+32 = 41
    assert(got.toSeq === Seq(0L, 1L, 2L, 4L, 7L, 41L))
    intercept[IllegalArgumentException] {
      ScaleOps.zValueN(Seq(col("x"), col("y"), col("z")), bits = 22)
    }
    intercept[IllegalArgumentException] { ScaleOps.zValueN(Seq(col("x")), 8) }
  }

  test("zorderWriteN: every output file covers a compact (x,y,z) box") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-z3").toString + "/t"
    val grid = (for (x <- 0 until 16; y <- 0 until 16; z <- 0 until 4)
      yield (x.toLong, y.toLong, z.toLong)).toDF("x", "y", "z")
    ScaleOps.zorderWriteN(grid, dir, Seq("x", "y", "z"), files = 16, bits = 15)
    val boxes = spark.read.parquet(dir)
      .withColumn("f", input_file_name())
      .groupBy("f").agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"),
        min("z").as("z0"), max("z").as("z1"), count(lit(1)).as("n"))
      .collect()
    assert(boxes.map(_.getAs[Long]("n")).sum === 1024L)
    // 1024 points over 16 files = 64/file; a contiguous 64-point z-curve
    // run spans a bbox VOLUME well under the full 1024 (range-boundary
    // jitter allowed; a random layout would give ~1024 each)
    boxes.foreach { b =>
      val vol = (b.getAs[Long]("x1") - b.getAs[Long]("x0") + 1) *
        (b.getAs[Long]("y1") - b.getAs[Long]("y0") + 1) *
        (b.getAs[Long]("z1") - b.getAs[Long]("z0") + 1)
      assert(vol <= 256, s"file bbox volume $vol too large: $b")
    }
  }

  test("zorderWrite: every output file covers a compact (x,y) rectangle") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-z").toString + "/t"
    val grid = (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    ScaleOps.zorderWrite(grid, dir, "x", "y", files = 16)
    val boxes = spark.read.parquet(dir)
      .withColumn("f", input_file_name())
      .groupBy("f").agg(min("x").as("x0"), max("x").as("x1"),
        min("y").as("y0"), max("y").as("y1"), count(lit(1)).as("n"))
      .collect()
    assert(boxes.map(_.getAs[Long]("n")).sum === 1024L)
    // 1024 points over 16 files = 64/file; on the z-curve a contiguous
    // 64-point run spans a bounding box of area well under the full 1024
    // (range-boundary jitter allowed; random layout would give ~1024 each)
    boxes.foreach { b =>
      val area = (b.getAs[Long]("x1") - b.getAs[Long]("x0") + 1) *
        (b.getAs[Long]("y1") - b.getAs[Long]("y0") + 1)
      assert(area <= 256, s"file bbox area $area too large: $b")
    }
  }
}

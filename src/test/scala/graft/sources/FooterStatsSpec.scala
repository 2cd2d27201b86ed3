package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The zone map against a REAL multi-file layout: write a table
  * range-clustered across files, harvest footers, and check that
  *   · the harvested stats equal the per-file truth,
  *   · the pruning consumer keeps exactly the files a range predicate
  *     can touch,
  *   · scanning only the surviving files loses no qualifying row
  *     (pruning is an optimization, never a filter).
  */
class FooterStatsSpec extends SparkSpec {

  import spark.implicits._

  test("range-clustered files prune to exactly the intersecting ones") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zm_").toString
    // 4 files, k clustered: file i holds k in [i*100, i*100+99]
    (0 until 4).foreach { i =>
      (i * 100 until i * 100 + 100).map(k => (k.toLong, k * 1.5))
        .toDF("k", "v")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/part$i")
    }
    val files = (0 until 4).flatMap { i =>
      new java.io.File(s"$dir/part$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    }
    assert(files.size === 4)

    val zm = FooterStats.zoneMap(spark, files)
    // per-file truth: 100 values, no nulls, min/max of the range
    val kRows = zm.filter(col("column_name") === "k").collect()
    assert(kRows.length === 4)
    kRows.foreach { r =>
      assert(r.getAs[Long]("n_values") === 100L)
      assert(r.getAs[Long]("n_nulls") === 0L)
      assert(r.getAs[Double]("max_val") - r.getAs[Double]("min_val") === 99.0)
    }

    // predicate k in [150, 250] touches files 1 and 2 only
    val kept = ScanPlanner.plan(spark, files, ranges = Seq(("k", 150.0, 250.0)))
      .keptFiles.map(f => new org.apache.hadoop.fs.Path(f).getName).toArray.sorted
    val expected = files.map(f => new org.apache.hadoop.fs.Path(f).getName)
      .filter(n => {
        val owner = files.indexWhere(_.endsWith(n))
        owner == 1 || owner == 2
      }).sorted
    // file names are unique per part dir (random UUID part names)
    assert(kept.length === 2, s"kept=${kept.toSeq}")
    assert(kept.toSeq === expected.toSeq)

    // completeness: scanning only kept files + filter == full scan + filter
    val keptPaths = files.filter(f => kept.contains(new org.apache.hadoop.fs.Path(f).getName))
    val pruned = spark.read.parquet(keptPaths: _*)
      .filter(col("k").between(150, 250)).count()
    val full = spark.read.parquet(files: _*)
      .filter(col("k").between(150, 250)).count()
    assert(pruned === full)
    assert(full === 101L)
  }

  test("double columns harvest exact min/max; disjoint predicate prunes all") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zm2_").toString
    Seq((1L, 2.5), (2L, -3.25), (3L, 9.75)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
    val zm = FooterStats.zoneMap(spark, Seq(file))
    val v = zm.filter(col("column_name") === "v").collect().head
    assert(v.getAs[Double]("min_val") === -3.25)
    assert(v.getAs[Double]("max_val") === 9.75)
    assert(ScanPlanner.plan(spark, Seq(file), ranges = Seq(("v", 100.0, 200.0)))
      .keptFiles.isEmpty)
  }

  test("bloom probe: no false negatives; absent keys mostly pruned; FP rate sane") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bf_").toString
    // present keys: every 10th in [0, 10000) — an unclustered point-lookup
    // target where min/max can never prune
    (0 until 1000).map(i => (i * 10L, s"v$i")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#k", "true")
      .parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val present = (0 until 1000).map(_ * 10L)
    val absent = (0 until 1000).map(_ * 10L + 5L)
    val got = FooterStats.bloomProbe(spark, files, "k", present ++ absent)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.size === 2000)
    // the load-bearing property: a bloom may lie "maybe", never "absent"
    assert(present.forall(got(_)), "bloom false negative — pruning would drop data")
    val fpr = absent.count(got(_)).toDouble / absent.size
    assert(fpr < 0.5, s"absurd false-positive rate $fpr — bloom not effective")
    assert(absent.exists(!got(_)), "no absent key pruned — bloom likely unread")
  }

  test("bloom probe: INT32 physical column probes exactly via the writer's Int hash") {
    // r9 advice found the cross-type false-negative hazard; r10 guarded
    // it by degrading INT32 to always-true; r10 advice asked for better:
    // the writer of an INT32 column hashed 4-byte Int values, so hashing
    // the probe key AS Int reproduces the writer's hash exactly — INT32
    // layouts get real pruning, with the same no-false-negative contract.
    val dir = java.nio.file.Files.createTempDirectory("graft_bf32_").toString
    (0 until 1000).map(i => (i * 10, s"v$i")).toDF("k", "v") // Int → INT32
      .coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#k", "true")
      .parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val present = (0 until 1000).map(_ * 10L)
    val absent = (0 until 1000).map(_ * 10L + 5L)
    val got = FooterStats.bloomProbe(spark, files, "k",
      present ++ absent ++ Seq(5000000000L, -5000000000L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(present.forall(got(_)),
      "INT32 bloom false negative — the Int hash does not match the writer")
    val fpr = absent.count(got(_)).toDouble / absent.size
    assert(fpr < 0.5, s"absurd false-positive rate $fpr — INT32 bloom not probed")
    assert(absent.exists(!got(_)), "no absent key pruned — INT32 bloom likely skipped")
    // a key outside Int range cannot exist in an INT32 column: false is
    // EXACT there, not a bloom answer at all
    assert(!got(5000000000L) && !got(-5000000000L),
      "out-of-Int-range keys are provably absent from an INT32 column")
  }

  test("bloom probe: a BINARY physical column answers cannot-rule-out, never false") {
    // the remaining cross-type degrade path: a string column's bloom
    // hashed Binary bytes — no Long probe can reproduce that, so every
    // key must stay a scan candidate
    val dir = java.nio.file.Files.createTempDirectory("graft_bfbin_").toString
    (0 until 100).map(i => (i.toString, i)).toDF("k", "v") // String → BINARY
      .coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#k", "true")
      .parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val got = FooterStats.bloomProbe(spark, files, "k", Seq(5L, 123457L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(5L -> true, 123457L -> true),
      "BINARY column must answer true for every key (cross-type hash would lie)")
  }

  test("bloom probe: a foreign UINT32 column answers cannot-rule-out, never false") {
    // r11 advice: the INT32 exact path assumed SIGNED semantics. A
    // foreign-written UINT32 column stores values up to 2³²−1 whose int
    // bit patterns are negative — the fits-in-Int shortcut would declare
    // a PRESENT 3·10⁹ "provably absent" and wrongly prune its file. The
    // annotation gate must degrade UINT32 to cannot-rule-out for EVERY
    // key. Spark never writes UINT32, so build the file with the parquet
    // example writer directly.
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val dir = java.nio.file.Files.createTempDirectory("graft_bfu32_").toString
    val file = s"$dir/u32.parquet"
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT32)
      .as(LogicalTypeAnnotation.intType(32, false)).named("k")
      .named("t")
    val fac = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withBloomFilterEnabled("k", true).build()
    try {
      // present unsigned values: 3e9 (int bits negative) and 100
      w.write(fac.newGroup().append("k", 3000000000L.toInt))
      w.write(fac.newGroup().append("k", 100))
    } finally w.close()
    val got = FooterStats.bloomProbe(spark, Seq(file), "k",
        Seq(3000000000L, 100L, 555L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(3000000000L -> true, 100L -> true, 555L -> true),
      s"UINT32 column must answer cannot-rule-out for every key: $got")
  }

  test("string bloom probe: no false negatives; absent keys mostly pruned") {
    // the writer of a BINARY string column hashed each value's UTF-8
    // bytes; probing the key's own bytes must reproduce that hash —
    // every present key answers true (the load-bearing contract) and a
    // healthy majority of absent keys prune
    val dir = java.nio.file.Files.createTempDirectory("graft_bfstr_").toString
    (0 until 1000).map(i => (f"key_$i%05d", i)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#k", "true")
      .parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val present = (0 until 1000).map(i => f"key_$i%05d")
    val absent = (0 until 1000).map(i => f"nope_$i%05d")
    val got = FooterStats
      .bloomProbeByFileString(spark, files, "k", present ++ absent)
      .groupBy("probe_key").agg(max(col("might_contain")).as("m"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(present.forall(got(_)),
      "string bloom false negative — the UTF-8 hash does not match the writer")
    val fpr = absent.count(got(_)).toDouble / absent.size
    assert(fpr < 0.5, s"absurd false-positive rate $fpr — string bloom not probed")
    assert(absent.exists(!got(_)), "no absent key pruned — string bloom likely skipped")
  }

  test("string bloom probe degrades to cannot-rule-out off string-byte columns") {
    // a LONG column's bloom hashed 8-byte values — no UTF-8 probe can
    // reproduce that, so string keys must never prune it; same for a
    // string layout written without blooms
    val dir = java.nio.file.Files.createTempDirectory("graft_bfstr2_").toString
    (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v") // Long → INT64
      .coalesce(1).write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#k", "true")
      .parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val got = FooterStats.bloomProbeByFileString(spark, files, "k", Seq("5", "xyz"))
      .collect().map(r => r.getString(1) -> r.getBoolean(2)).toMap
    assert(got === Map("5" -> true, "xyz" -> true),
      s"INT64 column must answer cannot-rule-out for string keys: $got")
    val dir2 = java.nio.file.Files.createTempDirectory("graft_bfstr3_").toString
    (0 until 100).map(i => (s"key$i", i)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir2) // no blooms
    val files2 = new java.io.File(dir2).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val got2 = FooterStats
      .bloomProbeByFileString(spark, files2, "k", Seq("key5", "absent"))
      .collect().map(r => r.getString(1) -> r.getBoolean(2)).toMap
    assert(got2 === Map("key5" -> true, "absent" -> true),
      s"bloom-less string layout must answer cannot-rule-out: $got2")
  }

  test("bloom probe: a layout written WITHOUT blooms answers cannot-rule-out") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bf0_").toString
    (0 until 100).map(i => (i.toLong, i)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val got = FooterStats.bloomProbe(spark, files, "k", Seq(5L, 1234L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(5L -> true, 1234L -> true),
      "no bloom present: every probe must stay a scan candidate")
  }

  test("bloom probe ORs across files: a key in ANY file survives") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bf2_").toString
    (0 until 2).foreach { i =>
      (0 until 500).map(j => (i * 100000L + j, j)).toDF("k", "v")
        .coalesce(1).write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#k", "true")
        .parquet(s"$dir/part$i")
    }
    val files = (0 until 2).flatMap { i =>
      new java.io.File(s"$dir/part$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    }
    assert(files.size === 2)
    val got = FooterStats.bloomProbe(spark, files, "k", Seq(3L, 100003L, 777L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got(3L) && got(100003L), "keys present in exactly one file must survive the OR")
  }
}

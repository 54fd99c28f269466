package graft.heap

import graft.SparkTestSession
import HprofModel._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 `format("hprof")` source: the object stream must agree with
  * the HeapDump ingestion path on the same synthetic dump, column
  * pruning must reach the reader, and segment bundles must parallelize.
  */
class HprofDataSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val path: String = {
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val str = w.defineClass("java.lang.String", obj,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    val arrCls = w.defineClass("[Ljava.lang.Object;", obj)
    val b1 = w.byteArray("hello")
    val b2 = w.byteArray("world!")
    val ints = w.primArray(BasicType.Int, Seq(1, 2, 3))
    val s1 = w.instance(str, Seq(BasicType.Object -> b1, BasicType.Int -> 1))
    val s2 = w.instance(str, Seq(BasicType.Object -> b2, BasicType.Int -> 2))
    w.objArray(arrCls, Seq(s1, s2))
    w.gcRoot(Sub.RootJniGlobal, s1)
    val p = java.nio.file.Files.createTempDirectory("dsv2").resolve("t.hprof").toString
    w.writeTo(p, segments = 3)
    p
  }

  test("object stream matches the HeapDump ingestion on kind counts and names") {
    val df = spark.read.format("hprof").load(path)
    val byKind = df.groupBy("kind").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKind("instance") === 2L)
    assert(byKind("object_array") === 1L)
    assert(byKind("primitive_array") === 3L) // 2 byte[] + 1 int[]
    assert(byKind("class") === 3L)

    val names = df.filter(col("kind") === "instance")
      .select("type_name").distinct().collect().map(_.getString(0)).toSeq
    assert(names === Seq("java.lang.String"))

    // sizes: int[3] = 12 bytes, byte[] lengths = payload lengths
    val intArr = df.filter(col("type_name") === "int[]").collect().head
    assert(intArr.getAs[Long]("n_bytes") === 12L)
    assert(intArr.getAs[Long]("n_elems") === 3L)

    // cross-check the whole stream against the export's object index
    // (instances + arrays + classes: the same universe)
    val out = java.nio.file.Files.createTempDirectory("hprof_ds_pq").toString
    new HeapDump(spark, path).writeParquet(out)
    val viaHeapDump = spark.read.parquet(s"$out/_object_index").count()
    assert(df.count() === viaHeapDump)
  }

  test("user-specified schema and multi-path loads fail loudly") {
    import org.apache.spark.sql.types._
    // Spark guards fixed-schema v2 sources itself (no
    // SupportsExternalMetadata => any .schema(...) is rejected before
    // getTable); the require in getTable is defense-in-depth
    val wrong = intercept[Exception] {
      spark.read.format("hprof")
        .schema(StructType(Seq(StructField("nope", StringType)))).load(path).count()
    }
    assert(wrong.getMessage.contains("user-specified schema") ||
      wrong.getMessage.contains("fixed schema"), wrong.getMessage)
    val multi = intercept[Exception] {
      spark.read.format("hprof").load(path, path).count()
    }
    assert(multi.getMessage.contains("one dump") ||
      multi.getMessage.contains("needs a path"), multi.getMessage)
  }

  test("column pruning reaches the hprof reader") {
    val df = spark.read.format("hprof").load(path).select("kind")
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    assert(scan.schema.fieldNames.toSeq === Seq("kind"),
      s"reader should only produce pruned columns, got ${scan.schema.fieldNames.toSeq}")
    assert(df.distinct().count() === 4)
  }

  test("kind/type_name filters push into the reader; others stay post-scan") {
    val df = spark.read.format("hprof").load(path)
    // pushed: kind equality — reader skips non-matching sub-records
    val inst = df.filter(col("kind") === "instance")
    val scanDesc = inst.queryExecution.executedPlan.toString
    assert(scanDesc.contains("PushedFilters: [EqualTo(kind,instance)]"), scanDesc)
    assert(inst.count() === 2)
    assert(inst.select("type_name").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("java.lang.String"))
    // pushed: IN over type_name
    val arrs = df.filter(col("type_name").isin("byte[]", "int[]"))
    assert(arrs.count() === 3)
    assert(arrs.queryExecution.executedPlan.toString.contains("In(type_name"),
      arrs.queryExecution.executedPlan.toString)
    // NOT pushed: numeric comparison — still correct via post-scan filter
    val big = df.filter(col("n_bytes") > 5)
    assert(!big.queryExecution.executedPlan.toString.contains("GreaterThan(n_bytes"))
    assert(big.count() === df.collect().count(_.getAs[Long]("n_bytes") > 5))
    // conjunction of pushed + unpushed
    val both = df.filter(col("kind") === "primitive_array" && col("n_elems") === 3)
    assert(both.count() === 1)
  }

  test("scan reports segment-byte statistics to the planner") {
    val scan = new HprofScan(path, HprofObjectsTable.schema, Array.empty)
    val stats = scan.estimateStatistics()
    assert(stats.sizeInBytes().isPresent && stats.sizeInBytes().getAsLong > 0)
    // small source joined to a big side should broadcast
    val df = spark.read.format("hprof").load(path)
    val big = graft.Tables(spark, "/root/testdata/sf0.001", "orders")
    val joined = big.join(df, big("o_orderkey") === df("obj_id"))
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      joined.queryExecution.executedPlan.toString)
  }

  test("segments spread across input partitions") {
    // the export's split: three segments far below the open cost are
    // one partition; at an open cost of 1 byte, one per segment and core
    val df = spark.read.format("hprof").load(path)
    assert(df.rdd.getNumPartitions === 1)
    val key = "spark.sql.files.openCostInBytes"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "1")
      val spread = spark.read.format("hprof").load(path)
      assert(spread.rdd.getNumPartitions === math.min(3, spark.sparkContext.defaultParallelism))
      assert(spread.count() === df.count())
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(df.count() > 0)
  }

  test("a class with a LOAD CLASS record but no CLASS DUMP names its objects alike in both paths") {
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val ghost = w.instance(w.defineClass("com.acme.Ghost", obj, dumped = false), Nil)
    val ghosts = w.objArray(w.defineClass("[Lcom.acme.Ghost;", obj, dumped = false), Seq(ghost))
    val dir = java.nio.file.Files.createTempDirectory("dsv2_ghost")
    val hp = w.writeTo(dir.resolve("g.hprof").toString)
    val viaSource = spark.read.format("hprof").load(hp).collect()
      .map(r => r.getAs[Long]("obj_id") -> (r.getAs[String]("kind"), r.getAs[String]("type_name"))).toMap
    assert(viaSource(ghost) === ("instance", "com.acme.Ghost"))
    assert(viaSource(ghosts) === ("object_array", "com.acme.Ghost[]"))
    val out = dir.resolve("pq").toString
    new HeapDump(spark, hp).writeParquet(out)
    val index = spark.read.parquet(s"$out/_object_index").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(index(ghost) === "com.acme.Ghost")
    assert(index(ghosts) === "com.acme.Ghost[]")
    assert(index.keySet === viaSource.keySet)
  }
}

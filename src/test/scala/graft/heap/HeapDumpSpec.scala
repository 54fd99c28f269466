package graft.heap

import graft.SparkTestSession
import HprofModel._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Parser → tables pipeline against a synthetic heap with known
  * answers (SURVEY.md §2.A). The heap is written with the test-scope
  * HprofWriter, read back through the full distributed path: heap
  * tables are checked in the export `writeParquet` ships, in both
  * modes.
  */
class HeapDumpSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // -- build a small known heap ---------------------------------------
  private lazy val fixture: (HeapDump, Fixture) = {
    val w = new HprofWriter()
    val f = new Fixture(w)
    val path = java.nio.file.Files.createTempDirectory("heap").resolve("test.hprof").toString
    w.writeTo(path, segments = 3)
    (new HeapDump(spark, path), f)
  }

  private def export(resolveRefs: Boolean): String = {
    val out = java.nio.file.Files.createTempDirectory("heap_pq").toString
    fixture._1.writeParquet(out, resolveRefs)
    out
  }
  private lazy val roboDir = export(resolveRefs = false)
  private lazy val resolvedDir = export(resolveRefs = true)
  private lazy val robo = new HeapTables(spark, roboDir)

  private def table(name: String): DataFrame = robo.system(name).get

  final class Fixture(w: HprofWriter) {
    val objectCls = w.defineClass("java.lang.Object")
    val stringCls = w.defineClass("java.lang.String", objectCls,
      instanceFields = Seq("value" -> BasicType.Object, "hash" -> BasicType.Int))
    val integerCls = w.defineClass("java.lang.Integer", objectCls,
      instanceFields = Seq("value" -> BasicType.Int))
    val personCls = w.defineClass("com.acme.Person", objectCls,
      instanceFields = Seq("name" -> BasicType.Object, "age" -> BasicType.Int))
    val employeeCls = w.defineClass("com.acme.Employee", personCls,
      instanceFields = Seq("name" -> BasicType.Object, "salary" -> BasicType.Double),
      staticFields = Seq(("COMPANY", BasicType.Object, 0x9999L), ("HEADCOUNT", BasicType.Int, 42)))
    val objArrayCls = w.defineClass("[Ljava.lang.Object;", objectCls)
    // B26: the same name under two distinct loaders (ids are arbitrary
    // object ids here — the parser must carry them through verbatim)
    val pluginClsA = w.defineClass("com.acme.Plugin", objectCls,
      instanceFields = Seq("gen" -> BasicType.Int), loaderId = 0x7001L)
    val pluginClsB = w.defineClass("com.acme.Plugin", objectCls,
      instanceFields = Seq("gen" -> BasicType.Int), loaderId = 0x7002L)

    val helloBytes1 = w.byteArray("hello")
    val helloBytes2 = w.byteArray("hello")
    val worldBytes = w.byteArray("world")
    val zeroInts = w.primArray(BasicType.Int, Seq(0, 0, 0, 0))
    val emptyLongs = w.primArray(BasicType.Long, Seq.empty)
    val singleFloat = w.primArray(BasicType.Float, Seq(1.5f))
    val someChars = w.primArray(BasicType.Char, Seq('h'.toInt, 'i'.toInt))

    val str1 = w.instance(stringCls, Seq(BasicType.Object -> helloBytes1, BasicType.Int -> 99))
    val str2 = w.instance(stringCls, Seq(BasicType.Object -> helloBytes2, BasicType.Int -> 99))
    val str3 = w.instance(stringCls, Seq(BasicType.Object -> worldBytes, BasicType.Int -> 7))
    val boxed1 = w.instance(integerCls, Seq(BasicType.Int -> 5))
    val emp = w.instance(employeeCls, Seq(
      BasicType.Object -> str1,   // Employee.name
      BasicType.Double -> 1234.5, // Employee.salary
      BasicType.Object -> str3,   // Person.name (shadowed)
      BasicType.Int -> 31))       // Person.age

    val emptyArr = w.objArray(objArrayCls, Seq.empty)
    val allNullArr = w.objArray(objArrayCls, Seq(0L, 0L, 0L))
    val normalArr = w.objArray(objArrayCls, Seq(str1, str2, 0L))

    w.gcRoot(Sub.RootThreadObject, emp, threadSerial = 1)
    w.gcRoot(Sub.RootStickyClass, stringCls)
    w.gcRoot(Sub.RootJniGlobal, str3)
    w.gcRoot(Sub.RootJavaFrame, boxed1, threadSerial = 1, frameIdx = 0)

    val frame1 = w.stackFrame("main", "([Ljava/lang/String;)V", "Main.java", "com.acme.Person", 10)
    val frame2 = w.stackFrame("run", "()V", "Worker.java", "com.acme.Employee", 20)
    w.stackTrace(serial = 1, threadSerial = 1, Seq(frame1, frame2))
  }

  test("header and record index parse") {
    val (hd, _) = fixture
    assert(hd.idSize === 8)
    assert(hd.header.formatName === "JAVA PROFILE 1.0.2")
    val byTag = hd.records.groupBy(_.tag)
    assert(byTag(Tag.HeapDumpSegment).size === 3)
    assert(byTag(Tag.HeapDumpEnd).size === 1)
    assert(byTag(Tag.StackFrame).size === 2)
    assert(byTag(Tag.StackTrace).size === 1)
  }

  test("a dump cut mid-segment fails in the record walk with the record's claim") {
    val (hd, _) = fixture
    val w = new HprofWriter()
    new Fixture(w)
    val bytes = w.build(segments = 3)
    val seg = hd.records.filter(r => Tag.isHeapSegment(r.tag))(1)
    val cutLen = seg.bodyOffset + seg.bodyLength / 2
    val cut = java.nio.file.Files.createTempDirectory("heap_cut").resolve("cut.hprof")
    java.nio.file.Files.write(cut, bytes.take(cutLen.toInt))
    val expected = s"truncated HPROF: record at offset ${seg.bodyOffset - 9} " +
      s"claims ${seg.bodyLength} bytes, file has $cutLen"
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
    val viaHeapDump = intercept[IllegalArgumentException](new HeapDump(spark, cut.toString))
    assert(viaHeapDump.getMessage === expected)
    val viaSource = intercept[Exception](spark.read.format("hprof").load(cut.toString).count())
    assert(messages(viaSource).contains(expected), messages(viaSource))
  }

  test("opening a dump runs one Spark job: the class-dump scan") {
    val w = new HprofWriter()
    new Fixture(w)
    val hp = w.writeTo(java.nio.file.Files.createTempDirectory("heap_open").resolve("t.hprof").toString)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    val hd = try {
      val hd = new HeapDump(spark, hp)
      org.apache.spark.ListenerDrain(sc)
      hd
    } finally sc.removeSparkListener(listener)
    assert(jobs.get() === 1)
    assert(hd.index.classes.size === 8)
  }

  test("classes with non-ASCII names export in both modes, whatever the file-name encoding") {
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val names = Seq("org.kafka.Gr\u00F6\u00DFe", "com.acme.x\uFF21")
    names.foreach { n =>
      val c = w.defineClass(n, obj, instanceFields = Seq("n" -> BasicType.Int))
      (1 to 3).foreach(i => w.instance(c, Seq(BasicType.Int -> i)))
    }
    val dir = java.nio.file.Files.createTempDirectory("heap_non_ascii")
    val hp = w.writeTo(dir.resolve("t.hprof").toString)
    for (resolve <- Seq(false, true)) {
      val out = dir.resolve(s"pq_$resolve").toString
      new HeapDump(spark, hp).writeParquet(out, resolveRefs = resolve)
      val t = new HeapTables(spark, out)
      names.foreach { n =>
        assert(t.classCopies(n).size === 1, t.classCopies.keys)
        assert(t.byClass(n).get.select("n").collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3), n)
        assert(t.rowCount(n) === Some(3L), n)
      }
    }
  }

  test("countRecords tallies record types") {
    val (hd, _) = fixture
    val counts = hd.countRecords.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("HeapDumpSegment") === 3L)
    assert(counts("LoadClass") === 8L)
  }

  test("index resolves classes, layouts and shadowed field names") {
    val (hd, f) = fixture
    val emp = hd.index.classes(f.employeeCls)
    assert(emp.name === "com.acme.Employee")
    assert(emp.layout.map(_.name) === Seq("name", "salary", "Person@name", "age"))
    assert(hd.index.classes(f.stringCls).layout.map(_.name) === Seq("value", "hash"))
  }

  test("fieldsTable records full layouts with exact slot order and types") {
    val (hd, f) = fixture
    val rows = hd.fieldsTable.collect()
      .map(r => (r.getString(1), r.getInt(2), r.getString(3), r.getString(4)))
    // Employee layout: own (name: object, salary) then super Person's
    // shadowed name (object) and age — slot order IS decode order
    val emp = rows.filter(_._1 == "com.acme.Employee").sortBy(_._2)
    assert(emp.map(t => (t._2, t._3, t._4)).toSeq === Seq(
      (0, "name", "object"), (1, "salary", "double"),
      (2, "Person@name", "object"), (3, "age", "int")))
    val str = rows.filter(_._1 == "java.lang.String").sortBy(_._2)
    assert(str.map(t => (t._3, t._4)).toSeq === Seq(("value", "object"), ("hash", "int")))
  }

  test("objectIndex covers instances, arrays and classes") {
    val (_, f) = fixture
    val idx = table("_object_index").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(idx(f.str1) === "java.lang.String")
    assert(idx(f.boxed1) === "java.lang.Integer")
    assert(idx(f.helloBytes1) === "byte[]")
    assert(idx(f.zeroInts) === "int[]")
    assert(idx(f.normalArr) === "java.lang.Object[]")
    assert(idx(f.stringCls) === "class java.lang.String")
    // every emitted object is indexed: 7 prim arrays, 3 obj arrays,
    // 5 instances, 8 classes (Plugin defined twice)
    assert(idx.size === 7 + 3 + 5 + 8)
  }

  test("typed instance tables decode fields") {
    val (_, f) = fixture
    val strings = robo.byClass("java.lang.String").get.collect()
      .map(r => r.getAs[Long]("obj_id") -> (r.getAs[Long]("value"), r.getAs[Int]("hash"))).toMap
    assert(strings(f.str1) === (f.helloBytes1, 99))
    assert(strings(f.str3) === (f.worldBytes, 7))

    val emp = robo.byClass("com.acme.Employee").get.collect()
    assert(emp.length === 1)
    val r = emp.head
    assert(r.getAs[Long]("name") === f.str1)
    assert(r.getAs[Double]("salary") === 1234.5)
    assert(r.getAs[Long]("Person@name") === f.str3)
    assert(r.getAs[Int]("age") === 31)
  }

  test("instancesByName unions loaders") {
    val df = robo.byClass("java.lang.String")
    assert(df.isDefined)
    assert(df.get.count() === 3)
  }

  test("primitive arrays round-trip per type") {
    val (_, f) = fixture
    val bytes = table("_primitive_arrays_byte").collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1).toArray).toMap
    assert(new String(bytes(f.helloBytes1), "UTF-8") === "hello")
    assert(new String(bytes(f.worldBytes), "UTF-8") === "world")
    val ints = table("_primitive_arrays_int").collect()
    assert(ints.length === 1 && ints.head.getSeq[Int](1) === Seq(0, 0, 0, 0))
    val longs = table("_primitive_arrays_long").collect()
    assert(longs.length === 1 && longs.head.getSeq[Long](1).isEmpty)
    val floats = table("_primitive_arrays_float").collect()
    assert(floats.head.getSeq[Float](1) === Seq(1.5f))
    val chars = table("_primitive_arrays_char").collect()
    assert(chars.head.getSeq[Int](1) === Seq('h'.toInt, 'i'.toInt))
  }

  test("object arrays with class names and null elements") {
    val (_, f) = fixture
    val arrs = table("_object_arrays").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    assert(arrs(f.emptyArr).isEmpty)
    assert(arrs(f.allNullArr) === Seq(0L, 0L, 0L))
    assert(arrs(f.normalArr) === Seq(f.str1, f.str2, 0L))
  }

  test("gc roots typed and attributed") {
    val (_, f) = fixture
    val roots = table("_gc_roots").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(roots === Set(
      ("ThreadObj", f.emp), ("SystemClass", f.stringCls),
      ("JniGlobal", f.str3), ("JavaStackFrame", f.boxed1)))
  }

  test("static fields table") {
    val (hd, f) = fixture
    val rows = hd.staticFields.collect().map(r =>
      (r.getString(1), r.getString(2), r.getString(3), r.getString(4), r.getLong(5)))
    assert(rows.contains(("com.acme.Employee", "COMPANY", "object", "", 0x9999L)))
    assert(rows.contains(("com.acme.Employee", "HEADCOUNT", "int", "42", 0L)))
  }

  test("stack frames and traces resolve") {
    val (hd, f) = fixture
    val frames = hd.stackFrames.collect()
      .map(r => r.getString(2) -> (r.getString(1), r.getInt(5))).toMap
    assert(frames("main") === ("com.acme.Person", 10))
    assert(frames("run") === ("com.acme.Employee", 20))
    val traces = hd.stackTraces.collect()
    assert(traces.length === 1)
    assert(traces.head.getSeq[Long](2) === Seq(f.frame1, f.frame2))
  }

  test("class hierarchy") {
    val (hd, f) = fixture
    val hier = hd.classHierarchy.collect()
      .map(r => r.getString(1) -> Option(r.get(3)).map(_.toString)).toMap
    assert(hier("com.acme.Employee") === Some("com.acme.Person"))
    assert(hier("java.lang.Object") === None)
  }

  test("B26: loader ids survive the parse and the census finds the duplicate name") {
    val (hd, f) = fixture
    val loaders = hd.classHierarchy.collect()
      .map(r => (r.getString(1), r.getLong(0)) -> r.getLong(4)).toMap
    assert(loaders((("com.acme.Plugin"), f.pluginClsA)) === 0x7001L)
    assert(loaders((("com.acme.Plugin"), f.pluginClsB)) === 0x7002L)
    assert(loaders((("java.lang.Object"), f.objectCls)) === 0L, "default = bootstrap")
    val census = new HeapAnalysis(robo).classloaderCensus.get
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
    assert(census.toSeq === Seq("com.acme.Plugin" ->
      ((2L, 2L, s"${0x7001L},${0x7002L}"))), "only the duplicated name surfaces")
  }

  test("renderObjects covers instances, classes and arrays") {
    val (hd, _) = fixture
    val lines = hd.renderObjects(100)
    assert(lines.exists(l => l.startsWith("java.lang.String@") && l.contains("hash=99")))
    assert(lines.exists(l => l.startsWith("class com.acme.Employee@") && l.contains("static HEADCOUNT=42")))
    assert(lines.exists(_.startsWith("byte[5]@")))
    assert(lines.exists(_.startsWith("java.lang.Object[3]@")))
  }

  test("writeParquet resolveRefs materializes STRUCT{id,type} refs (non-robo mode)") {
    val (_, f) = fixture
    val out = resolvedDir
    val strs = spark.read.parquet(s"$out/java.lang.String_${f.stringCls}")
    val row = strs.filter(org.apache.spark.sql.functions.col("obj_id") === f.str1)
      .selectExpr("value.id", "value.type").collect().head
    assert(row.getLong(0) === f.helloBytes1)
    assert(row.getString(1) === "byte[]")
    // Employee has two ref fields incl. the shadowed one
    val emp = spark.read.parquet(s"$out/com.acme.Employee_${f.employeeCls}")
    val er = emp.selectExpr("name.type", "`Person@name`.type").collect().head
    assert(er.getString(0) === "java.lang.String")
    assert(er.getString(1) === "java.lang.String")

    // static fields gain a resolved ref_type column in this mode
    val sf = spark.read.parquet(s"$out/_static_fields")
      .collect().map(r => r.getAs[String]("field_name") -> r.getAs[String]("ref_type")).toMap
    assert(sf("HEADCOUNT") === "")
    assert(sf("COMPANY") === "(unresolved)") // 0x9999 points nowhere in the fixture
  }

  test("writeParquet exports all tables") {
    val out = roboDir
    val dirs = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(dirs.contains("_object_index"))
    assert(dirs.contains("_primitive_arrays_byte"))
    assert(dirs.exists(_.startsWith("java.lang.String_")))
    val idx = spark.read.parquet(s"$out/_object_index")
    assert(idx.count() === 23)
  }

  test("resolved and robo exports agree table by table, and no stage dir is left") {
    val resolved = new HeapTables(spark, resolvedDir)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    def tables(dir: String): Set[String] =
      new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(tables(resolvedDir) === tables(roboDir))
    assert(!tables(resolvedDir).exists(_.startsWith(".")), tables(resolvedDir))

    val (system, classTables) = tables(roboDir).partition(_.startsWith("_"))
    assert(system.size === 16)
    system.foreach { t =>
      val res = resolved.system(t).get
      // resolved mode's one system-table difference is the added ref_type
      val resRows = if (t == "_static_fields") res.drop("ref_type") else res
      assert(rows(resRows) === rows(table(t)), t)
    }

    def refFields(t: String): Seq[String] =
      fixture._1.index.classes(t.substring(t.lastIndexOf('_') + 1).toLong)
        .layout.filter(_.typeTag == BasicType.Object).map(_.name)
    assert(classTables.filter(refFields(_).nonEmpty) === Set(
      s"java.lang.String_${fixture._2.stringCls}", s"com.acme.Employee_${fixture._2.employeeCls}"))
    classTables.foreach { t =>
      val r = spark.read.parquet(s"$resolvedDir/$t")
      val b = spark.read.parquet(s"$roboDir/$t")
      assert(r.columns.toSeq === b.columns.toSeq, t)
      val structs = r.schema.fields.filter(_.dataType.isInstanceOf[StructType]).map(_.name).toSeq
      assert(structs === refFields(t), t)
      // every STRUCT ref's id is the robo column, every other column as is
      val ids = r.columns.map(c => if (structs.contains(c)) col(s"`$c`.id").as(c) else col(s"`$c`"))
      assert(rows(r.select(ids: _*)) === rows(b), t)
    }
  }

  /** Every table of `dir` resolves through [[HeapTables.read]] to the
    * schema Spark's own inference gives, nullability and metadata
    * included; a class with loader copies unions to the same schema.
    */
  private def assertSparkSchemas(dir: String): Unit = {
    val t = new HeapTables(spark, dir)
    assert(t.entries.nonEmpty)
    t.entries.foreach { e =>
      assert(HeapTables.read(spark, s"$dir/$e").schema === spark.read.parquet(s"$dir/$e").schema, e)
    }
    t.classCopies.foreach { case (cls, copies) =>
      val inferred = copies.map(c => spark.read.parquet(s"$dir/$c"))
        .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
      assert(t.byClass(cls).get.schema === inferred.schema, cls)
    }
  }

  test("tables resolve to Spark's inferred schemas in robo, resolved and loader-copy exports") {
    assertSparkSchemas(roboDir)
    assertSparkSchemas(resolvedDir)
    val w = new HprofWriter()
    val obj = w.defineClass("java.lang.Object")
    val loader = w.instance(w.defineClass("java.net.URLClassLoader", obj), Nil)
    val boot = w.defineClass("java.util.ArrayList", obj,
      instanceFields = Seq("size" -> BasicType.Int, "elementData" -> BasicType.Object))
    val app = w.defineClass("java.util.ArrayList", obj,
      instanceFields = Seq("size" -> BasicType.Int), loaderId = loader)
    w.instance(boot, Seq(BasicType.Int -> 0, BasicType.Object -> 0L))
    w.instance(app, Seq(BasicType.Int -> 3))
    val hp = java.nio.file.Files.createTempFile("heap_copies", ".hprof").toString
    w.writeTo(hp)
    for (resolve <- Seq(false, true)) {
      val out = java.nio.file.Files.createTempDirectory("heap_copies_pq").toString
      new HeapDump(spark, hp).writeParquet(out, resolveRefs = resolve)
      val t = new HeapTables(spark, out)
      assert(t.classCopies("java.util.ArrayList").size === 2)
      assert(t.byClass("java.util.ArrayList").get.count() === 2L)
      assertSparkSchemas(out)
    }
  }

  test("a table with a garbage footer fails open with an error naming the file") {
    val out = java.nio.file.Files.createTempDirectory("heap_garbage").toString
    fixture._1.writeParquet(out)
    val bad = new java.io.File(out, "_gc_roots").listFiles().filter(_.getName.endsWith(".parquet"))
    bad.foreach(f => java.nio.file.Files.write(f.toPath, "not parquet".getBytes))
    val e = intercept[Exception](new HeapSessions(spark).open(out, "garbage"))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(x => Option(x.getMessage)).toSeq
    assert(messages.exists(m => bad.exists(f => m.contains(s"_gc_roots/${f.getName}"))), messages)
  }

  test("a small dump writes one file per system table; a lowered open cost, one per core") {
    val cores = spark.sparkContext.defaultParallelism
    val path = java.nio.file.Files.createTempDirectory("heap_cores").resolve("t.hprof").toString
    // the fixture's records over `cores` segments, so the scan can use every core
    val w = new HprofWriter()
    new Fixture(w)
    w.writeTo(path, segments = cores)
    /** System table -> its parquet file count. */
    def exportFiles(): (String, Map[String, Int]) = {
      val out = java.nio.file.Files.createTempDirectory("heap_files").toString
      new HeapDump(spark, path).writeParquet(out)
      out -> new java.io.File(out).listFiles().filter(_.getName.startsWith("_")).map { t =>
        t.getName -> t.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    val (small, oneEach) = exportFiles()
    assert(oneEach.size === 16)
    assert(oneEach.values.toSet === Set(1), oneEach)
    val key = "spark.sql.files.openCostInBytes"
    val before = spark.conf.getOption(key)
    val (spread, perCore) = try {
      spark.conf.set(key, "1")
      exportFiles()
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // the scan's tables follow the scan; the driver-built metadata tables stay one file
    val (scanned, metadata) = perCore.partition { case (t, _) => SystemTableWriter.tableNames.contains(t) }
    assert(scanned.size === SystemTableWriter.tableNames.size)
    assert(scanned.values.toSet === Set(cores), perCore)
    assert(metadata.values.toSet === Set(1), perCore)
    def rows(dir: String, t: String): Seq[String] =
      spark.read.parquet(s"$dir/$t").collect().map(_.toString).sorted.toSeq
    oneEach.keys.foreach(t => assert(rows(small, t) === rows(spread, t), t))
    assert(rows(small, "_object_index") === rows(roboDir, "_object_index"))
  }

  test("a table is read by its data files, and by directory past the listing threshold, with no job") {
    val cores = spark.sparkContext.defaultParallelism
    assume(cores > 1)
    val dir = java.nio.file.Files.createTempDirectory("heap_listing")
    val w = new HprofWriter()
    new Fixture(w)
    val path = w.writeTo(dir.resolve("t.hprof").toString, segments = cores)
    val out = dir.resolve("pq").toString
    def withConf[T](key: String, value: String)(f: => T): T = {
      val before = spark.conf.getOption(key)
      try { spark.conf.set(key, value); f } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    withConf("spark.sql.files.openCostInBytes", "1")(new HeapDump(spark, path).writeParquet(out))
    val tableDir = s"$out/_object_index"
    val files = new java.io.File(tableDir).listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(files.size === cores)
    val sc = spark.sparkContext
    // at the file count the read names the files (no `_` directory for
    // Spark to warn about); under it, the directory (no listing job)
    for ((threshold, roots) <- Seq(cores -> files, 1 -> Set("_object_index"))) {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.ListenerDrain(sc)
      sc.addSparkListener(listener)
      val df = try withConf("spark.sql.sources.parallelPartitionDiscovery.threshold", threshold.toString) {
        val df = HeapTables.read(spark, tableDir)
        org.apache.spark.ListenerDrain(sc)
        df
      } finally sc.removeSparkListener(listener)
      assert(jobs.get() === 0, s"threshold $threshold")
      val rootPaths = df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location.rootPaths.map(_.getName)
      }.flatten.toSet
      assert(rootPaths === roots, s"threshold $threshold")
      assert(df.count() === spark.read.parquet(tableDir).count())
    }
  }

  test("rowCount equals count() for every table and class, loader copies and several files included") {
    def assertCounts(dir: String): Unit = {
      val t = new HeapTables(spark, dir)
      t.systemNames.foreach(n => assert(t.rowCount(n) === Some(t.system(n).get.count()), s"$n in $dir"))
      t.classCopies.keys.foreach(c => assert(t.rowCount(c) === Some(t.byClass(c).get.count()), s"$c in $dir"))
      assert(t.rowCount("no.such.Class") === None)
    }
    assertCounts(roboDir)
    assertCounts(resolvedDir)
    // the fixture over one segment per core, exported with a lowered
    // open cost: every scanned system table is several files
    val cores = spark.sparkContext.defaultParallelism
    val path = java.nio.file.Files.createTempDirectory("heap_rows").resolve("t.hprof").toString
    val w = new HprofWriter()
    // and a class defined by two loaders
    val obj = new Fixture(w).objectCls
    val loader = w.instance(w.defineClass("java.net.URLClassLoader", obj), Nil)
    val boot = w.defineClass("java.util.ArrayList", obj, instanceFields = Seq("size" -> BasicType.Int))
    val app = w.defineClass("java.util.ArrayList", obj, instanceFields = Seq("size" -> BasicType.Int),
      loaderId = loader)
    Seq(boot, app, app).foreach(c => w.instance(c, Seq(BasicType.Int -> 0)))
    w.writeTo(path, segments = cores)
    val key = "spark.sql.files.openCostInBytes"
    val before = spark.conf.getOption(key)
    val outs = try {
      spark.conf.set(key, "1")
      Seq(false, true).map { resolve =>
        val out = java.nio.file.Files.createTempDirectory("heap_rows_pq").toString
        new HeapDump(spark, path).writeParquet(out, resolveRefs = resolve)
        out
      }
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    outs.foreach { out =>
      val t = new HeapTables(spark, out)
      assert(t.classCopies("java.util.ArrayList").size === 2)
      assert(t.rowCount("java.util.ArrayList") === Some(3L))
      assert(t.systemNames.exists(n =>
        new java.io.File(out, n).listFiles().count(_.getName.endsWith(".parquet")) > 1), out)
      assertCounts(out)
    }
  }
}

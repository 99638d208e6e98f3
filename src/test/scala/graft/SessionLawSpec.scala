package graft

import org.scalatest.funsuite.AnyFunSuite

/** One session factory, one metrics collector, one parquet reader, one
  * hashed-shingle definition, one kernel shape, a fixed set of mains —
  * as code, not comments (the MaterializeLawSpec source-scan pattern).
  * No SparkTestBase: this suite's forked JVM has no session until
  * [[Session.local]] builds one, so the settings checked are the
  * factory's own. */
class SessionLawSpec extends AnyFunSuite {

  private def offenders(pattern: String, allowedFile: String,
      codeOnly: Boolean, root: String = "src/main/scala"): Seq[String] = {
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    def isComment(ln: String): Boolean = {
      val t = ln.trim
      t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
    }
    scalaFiles(new java.io.File(root))
      .filterNot(_.getName == allowedFile)
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val lines = try src.getLines().toVector finally src.close()
        lines.zipWithIndex.collect {
          case (ln, i) if ln.contains(pattern) && !(codeOnly && isComment(ln)) =>
            s"${f.getPath}:${i + 1}"
        }
      }
  }

  test("SparkSession.builder() only in Session.scala") {
    val found = offenders("SparkSession.builder()", "Session.scala", codeOnly = true)
    assert(found.isEmpty, s"build sessions with graft.Session.local(): ${found.mkString(", ")}")
  }

  test("listener registrations only in Profile.scala") {
    val found = Seq("addSparkListener(", "listenerManager.register(")
      .flatMap(offenders(_, "Profile.scala", codeOnly = false))
    assert(found.isEmpty, s"collect metrics with graft.Profile: ${found.mkString(", ")}")
  }

  test("parquet reads only in Tables.scala") {
    // Every parquet read goes through Tables, whose schema cache keeps a
    // table reference from running a schema-inference job per call.
    val found = Seq("read.parquet(", "read.schema(")
      .flatMap(offenders(_, "Tables.scala", codeOnly = true))
    assert(found.isEmpty, s"read parquet through graft.Tables: ${found.mkString(", ")}")
  }

  test("the hashed 3-shingle expression is spelled once, in Dedup.shingleHashes") {
    // Every hashed-shingle consumer (the set-similarity kernel, the
    // affine-minhash audits, the per-source sketches, the streaming
    // faces) derives from Dedup.shingleHashes, so the shingle
    // definition cannot drift between them.
    val found = offenders("""windowHashes(split(col("text"), " "), 3)""",
      allowedFile = "", codeOnly = true)
    assert(found.size == 1 &&
      found.head.startsWith("src/main/scala/graft/queries/Dedup.scala:"),
      s"derive hashed shingles from Dedup.shingleHashSet: ${found.mkString(", ")}")
  }

  test("planner strategies are installed only at the known install points") {
    // experimental.extraStrategies plans every later query of a session,
    // so an install is a reviewed, idempotent entry point: AsOf.join for
    // its operator, BindConstants.install (called where sessions are built
    // and by the table loaders) for the bound comparison constants
    val found = Seq("extraStrategies =", "extraStrategies ++=", "extraStrategies :+=",
      "extraStrategies_=(").flatMap(offenders(_, allowedFile = "", codeOnly = true))
    assert(found.map(_.split(':').head).sorted == Seq(
      "src/main/scala/graft/plans/AsOfJoin.scala",
      "src/main/scala/graft/plans/BindConstants.scala"), found.mkString(", "))
  }

  test("graft.functions defines no Expression class but DHash64 and NextFitBins") {
    // every other kernel is one ArrayExprs builder over a StaticInvoke of
    // an ArrayOps method; the two keep classes for their analysis-time
    // type gates. Scans the compiled package, so nested, anonymous and
    // indirect subclasses count too.
    val root = new java.io.File(graft.functions.ArrayOps.getClass
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    val classes = new java.io.File(root, "graft/functions").listFiles().toSeq
      .map(_.getName).filter(_.endsWith(".class"))
      .map(f => Class.forName("graft.functions." + f.stripSuffix(".class"), false,
        getClass.getClassLoader))
    val found = classes
      .filter(classOf[org.apache.spark.sql.catalyst.expressions.Expression].isAssignableFrom)
      .map(_.getName).sorted
    assert(classes.nonEmpty)
    assert(found == Seq("graft.functions.DHash64", "graft.functions.NextFitBins"),
      "add a kernel as an ArrayOps method and an ArrayExprs builder")
  }

  test("mains only in the tool and driver entry points, none in tests") {
    // a one-off dev main (a probe) lands as a spec or a committed
    // finding instead; spelled in two pieces so this file never matches
    val main = "def " + "main("
    val files = offenders(main, allowedFile = "", codeOnly = true)
      .map(_.split(':').head).distinct.sorted
    assert(files == Seq(
      "src/main/scala/graft/Bench.scala",
      "src/main/scala/graft/Verify.scala",
      "src/main/scala/graft/dialect/QueryRunner.scala",
      "src/main/scala/graft/tools/ApiCatalog.scala",
      "src/main/scala/graft/tools/Explain.scala",
      "src/main/scala/graft/tools/QueryIndex.scala",
      "src/main/scala/graft/tools/ShuffleAudit.scala",
      "src/main/scala/graft/tools/ShuffleVerdict.scala"), files.mkString(", "))
    val inTests = offenders(main, allowedFile = "", codeOnly = true,
      root = "src/test/scala")
    assert(inTests.isEmpty, s"no mains under src/test: ${inTests.mkString(", ")}")
  }

  test("Session.local() sets the fixed settings") {
    val spark = Session.local()
    try {
      val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors)
      assert(spark.sparkContext.master == s"local[$cpus]")
      val conf = spark.conf
      assert(conf.get("spark.sql.shuffle.partitions") == cpus.toString)
      assert(conf.get("spark.sql.session.timeZone") == "UTC")
      assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
      assert(conf.get("spark.sql.codegen.cache.maxEntries") == "10000")
      assert(conf.get("spark.sql.maxPlanStringLength") == "1048576")
      assert(conf.get("graft.materialize.mode") ==
        sys.env.getOrElse("GRAFT_MATERIALIZE_MODE", "local"))
      assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString == "WARN")
      assert(spark.experimental.extraStrategies
        .count(_.isInstanceOf[graft.plans.BindConstants]) == 1)
    } finally spark.stop()
  }
}

package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark. `run.py` launches it once per run:
  *
  * {{{
  * Harness --mode queries --queries q1_pricing,q3_distinct --data DIR
  *         --out DIR --local DIR --seconds S --trace 0|1
  * Harness --mode emnist --scale N --seed N ... (same common flags)
  * }}}
  *
  * One client calls the library's public entry points back to back in
  * one fresh SparkSession, set up with an off-timer warmup. Its first
  * pass runs with every index memo empty (cold); a warm pass follows,
  * and more while they still fit in `--seconds`.
  *
  * Everything measured goes to `OUT/result.json`; with `--trace 1` the
  * spans, Spark jobs and tasks go to `OUT/spans.jsonl`, `OUT/jobs.jsonl`
  * and `OUT/tasks.jsonl` for `run.py` to attribute.
  */
object Harness {
  private val t0Ns = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  /** Epoch seconds of a nanoTime reading, on the listener's clock. */
  private def epochS(ns: Long): Double = t0EpochMs / 1e3 + (ns - t0Ns) / 1e9

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String, d: Int): Int = m.get(k).map(_.toInt).getOrElse(d)
    def flag(k: String): Boolean = m.get(k).contains("1")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val out = new File(a("out")); out.mkdirs()
    val tr = new Tracer(a.flag("trace"))
    val res = new Json.Obj
    try {
      // setup: process start (JVM boot included) -> session -> warmup
      val setupStart = processStartNs
      val wl = tr.openAt("workload", 0, setupStart)
      val spark = session(a)
      res("session_s") = secs(System.nanoTime() - setupStart)
      val listener = if (tr.on) Some(tr.listen(spark)) else None
      tr.span("setup", wl, setupStart)(warmup(spark, a("data")))
      res("setup_s") = secs(System.nanoTime() - setupStart)
      val pass: (String, Int) => Json.Obj = a("mode") match {
        case "queries" => queryWorkload(spark, a, tr, wl)
        case "emnist"  => (kind, _) => emnistPass(spark, a, kind, tr, wl)
      }
      // a cold pass and a warm pass, then more warm passes while the
      // next one (as long as the last) still ends within --seconds
      val budgetNs = a.int("seconds", 10) * 1000000000L
      val timedStart = System.nanoTime()
      val passes = ArrayBuffer[Json.Obj]()
      res("passes") = passes
      var lastNs = 0L
      while (passes.size < 2 || System.nanoTime() - timedStart + lastNs <= budgetNs) {
        val t = System.nanoTime()
        passes += pass(if (passes.isEmpty) "cold" else "warm", passes.size)
        lastNs = System.nanoTime() - t
      }
      res("timed_s") = secs(System.nanoTime() - timedStart)
      tr.close(wl)
      listener.foreach(l => tr.drain(spark, l))
      spark.stop()
    } finally {
      Json.write(new File(out, "result.json"), res)
      if (tr.on) tr.dump(out)
    }
  }

  def processStartNs: Long = {
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    t0Ns - (t0EpochMs - startMs) * 1000000L
  }

  // --- session ----------------------------------------------------------

  /** The same session posture as `graft.Verify`: `local[nproc]`, shuffle
    * partitions = nproc, UTC, graft extensions; only `spark.local.dir`
    * points at the run's private directory. */
  def session(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", a("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Off-timer warmup: the JVM's first parquet scan, shuffle, sort and
    * codegen, which would otherwise land on whichever call came first. */
  def warmup(spark: SparkSession, dataDir: String): Unit = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(s"$dataDir/lineitem.parquet")
      .groupBy(col("l_returnflag")).count().orderBy(col("l_returnflag"))
      .write.format("noop").mode("overwrite").save()
  }

  /** Session state after a pass: the blocks a sweep could not release,
    * the live heap after a full GC, and what the pass left in tmp. */
  def sessionState(spark: SparkSession, pass: Json.Obj, tmpBefore: Long): Unit = {
    val storage = spark.sparkContext.getRDDStorageInfo
    val memB = storage.map(_.memSize).sum
    val diskB = storage.map(_.diskSize).sum
    // live heap: what the last of two full collections left in the heap pools
    System.gc(); System.gc()
    val heapB = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    pass("storage_mem_mb") = memB / 1e6
    pass("storage_disk_mb") = diskB / 1e6
    pass("heap_after_gc_mb") = heapB / 1e6
    pass("retained_mb") = (memB + diskB) / 1e6
    pass("tmp_leaked_mb") = (dirBytes(tmpDir) - tmpBefore) / 1e6
  }

  def tmpDir: File = new File(System.getProperty("java.io.tmpdir"))

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def secs(ns: Long): Double = ns / 1e9

  def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  // --- query workloads --------------------------------------------------

  /** The pass function for a query list. The cold pass also writes
    * every result for the oracle compare, off the timer: the check
    * covers what a first call returns, and the warm passes stay free of
    * the writes' garbage. */
  def queryWorkload(spark: SparkSession, a: Args, tr: Tracer,
      wl: Int): (String, Int) => Json.Obj = {
    val names = a("queries").split(",").toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))
    val checkDir = new File(a("out"), "check")
    (kind, index) => {
      val check = if (index == 0) Some(checkDir) else None
      val p = queryPass(spark, fns, a("data"), kind, tr, wl, check)
      check.foreach(dumpOracles(names, _))
      p
    }
  }

  def queryPass(spark: SparkSession,
      fns: Seq[(String, (SparkSession, String) => DataFrame)], data: String,
      kind: String, tr: Tracer, parent: Int, check: Option[File]): Json.Obj = {
    val pass = new Json.Obj
    val tmpBefore = dirBytes(tmpDir)
    val sc = spark.sparkContext
    val ps = tr.open(kind, parent)
    val start = System.nanoTime()
    var offTimerNs = 0L
    var swept = 0
    val qs = fns.map { case (name, fn) =>
      val q = new Json.Obj
      q("name") = name
      val qspan = tr.open(s"query:$name", ps)
      def phase[T](ph: String)(body: => T): T = {
        val t = System.nanoTime()
        val r = tr.span(ph, qspan, t, group = true, sc)(body)
        q(s"${ph}_s") = secs(System.nanoTime() - t)
        r
      }
      try {
        val df = phase("build")(fn(spark, data))
        phase("plan")(df.queryExecution.executedPlan)
        phase("run")(df.write.format("noop").mode("overwrite").save())
        q("ok") = true
        for (dir <- check) {
          val t = System.nanoTime()
          tr.span("check", ps, t, group = true, sc) {
            try df.write.mode("overwrite").parquet(new File(dir, name).getPath)
            catch { case e: Throwable => q("check_error") = e.toString.take(300) }
          }
          offTimerNs += System.nanoTime() - t
        }
      } catch { case e: Throwable =>
        q("ok") = false
        q("error") = errorText(e)
      }
      // the caller's batch boundary: release result checkpoints
      swept += phase("sweep")(graft.util.BlockHygiene.sweep(spark))
      tr.close(qspan)
      q
    }
    pass("wall_s") = secs(System.nanoTime() - start - offTimerNs)
    tr.close(ps)
    pass("kind") = kind
    pass("queries") = qs
    pass("swept") = swept
    sessionState(spark, pass, tmpBefore)
    pass
  }

  /** The oracle SQL of the checked queries, dumped after they ran
    * (some oracles derive from their query's own run, as in Verify). */
  def dumpOracles(names: Seq[String], dir: File): Unit = {
    val all = graft.SparkEntry.oracleSql
    val oracles = new Json.Obj
    for (n <- names; sql <- all.get(n)) oracles(n) = sql
    Json.write(new File(dir, "oracle_sql.json"), oracles)
  }

  // --- EMNIST reference pipeline ---------------------------------------

  /** generate → scaler → PCA(64) → transform + 85/15 split → gaussian
    * NB → HistGbt → scoring + macro-F1 → inverse PCA of a fixed test
    * sample. Each stage is timed around its public call. A stage that
    * throws ends the pass; the pass records it as `failed_stage` and
    * `error`, and runs no output checks. */
  def emnistPass(spark: SparkSession, a: Args, kind: String, tr: Tracer,
      parent: Int): Json.Obj = {
    import spark.implicits._
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.classification.NaiveBayes
    import org.apache.spark.ml.feature.StandardScalerModel
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.sql.functions._
    import graft.ml._
    val pass = new Json.Obj
    val stages = new Json.Obj
    val tmpBefore = dirBytes(tmpDir)
    val sc = spark.sparkContext
    val cached = ArrayBuffer[DataFrame]()
    val ps = tr.open(kind, parent)
    val start = System.nanoTime()
    def stage[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      try tr.span(s"stage:$name", ps, t, group = true, sc)(body)
      catch { case e: Throwable =>
        pass("failed_stage") = name
        pass("error") = errorText(e)
        throw e
      } finally stages(name) = secs(System.nanoTime() - t)
    }
    try {
      val scale = a.int("scale", 1)
      val data = stage("EmnistFixture.df") {
        val d = EmnistFixture.df(spark, dim = 1024, seed = a("seed").toLong, scale = scale)
          .select($"label", $"row_id", array_to_vector($"features").as("fvec")).cache()
        cached += d
        d.count(); d
      }
      val fs = EmnistPipeline.featureStages(64)
      val scalerModel = stage("EmnistPipeline.scaler_fit")(
        new Pipeline().setStages(fs.take(2)).fit(data))
      val scaled = scalerModel.transform(data)
      val pcaModel = stage("FastPCA.fit")(fs(2).asInstanceOf[FastPCA].fit(scaled))
      val (train, test) = stage("EmnistPipeline.transform") {
        val all = pcaModel.transform(scaled).select($"label_idx", $"row_id", $"fvec", $"pca")
        val (tr0, te0) = graft.util.Sampling.split8515(all, 42L)
        val trn = tr0.select($"label_idx", $"pca").cache()
        val tst = te0.cache()
        cached ++= Seq(trn, tst)
        trn.count(); tst.count(); (trn, tst)
      }
      val nb = stage("EmnistPipeline.nb_fit")(new NaiveBayes().setModelType("gaussian")
        .setFeaturesCol("pca").setLabelCol("label_idx").fit(train))
      val gbt = stage("HistGbt.fit")(HistGbt.fit(train, numClasses = 39, maxIter = 3,
        maxLeaves = 16, maxBins = 64))
      val scores = stage("EmnistPipeline.evaluate") {
        Seq("nb" -> nb.transform(test), "hist_gbt" -> gbt.transform(test)).map { case (m, p) =>
          m -> EmnistPipeline.evaluate(p.select($"prediction", $"label_idx"))
        }
      }
      val recon = stage("InversePca.transform") {
        val inv = new InversePca(pcaModel,
          scalerModel.stages(1).asInstanceOf[StandardScalerModel], "pca", "recon")
        val sample = test.orderBy($"label_idx", $"row_id").limit(15)
        inv.transform(sample)
          .select(vector_to_array($"fvec").as("x"), vector_to_array($"recon").as("y"))
          .as[(Array[Double], Array[Double])].collect().map { case (x, y) =>
            math.sqrt(x.indices.map(i => (x(i) - y(i)) * (x(i) - y(i))).sum) /
              math.sqrt(x.map(v => v * v).sum)
          }
      }
      pass("wall_s") = secs(System.nanoTime() - start)
      tr.close(ps)
      // off-timer output checks, read by run.py
      val checks = new Json.Obj
      checks("rows") = data.count()
      checks("train") = train.count()
      checks("test") = test.count()
      for ((m, (acc, f1)) <- scores) { checks(s"${m}_accuracy") = acc; checks(s"${m}_macro_f1") = f1 }
      checks("recon_rel_err") = if (recon.isEmpty) Double.NaN else recon.sum / recon.length
      pass("checks") = checks
    } catch { case e: Throwable =>
      if (!pass.contains("failed_stage")) {
        pass("failed_stage") = "checks"
        pass("error") = errorText(e)
      }
      if (!pass.contains("wall_s")) {
        pass("wall_s") = secs(System.nanoTime() - start)
        tr.close(ps)
      }
    }
    cached.foreach(_.unpersist(true))
    pass("swept") = graft.util.BlockHygiene.sweep(spark)
    pass("kind") = kind
    pass("stages") = stages
    sessionState(spark, pass, tmpBefore)
    pass
  }

  // --- tracing -----------------------------------------------------------

  /** Spans kept in memory and written when the run ends. A span is (id,
    * parent, name, start, end); Spark jobs attach to the span whose job
    * group was set when they were submitted. Off: every call is a no-op
    * apart from running the body. */
  final class Tracer(val on: Boolean) {
    private val spans = ArrayBuffer[Array[Any]]()
    private val jobs = ArrayBuffer[String]()
    private val tasks = ArrayBuffer[String]()

    def open(name: String, parent: Int): Int = openAt(name, parent, System.nanoTime())

    def openAt(name: String, parent: Int, startNs: Long): Int =
      if (!on) 0 else synchronized {
        spans += Array(spans.size + 1, parent, name, epochS(startNs), Double.NaN)
        spans.size
      }

    def close(id: Int): Unit = if (on) synchronized {
      spans(id - 1)(4) = epochS(System.nanoTime())
    }

    def span[T](name: String, parent: Int, startNs: Long, group: Boolean = false,
        sc: org.apache.spark.SparkContext = null)(body: => T): T = {
      val id = openAt(name, parent, startNs)
      if (on && group) sc.setJobGroup(s"perfbench:$id", name)
      try body finally {
        if (on && group) sc.clearJobGroup()
        close(id)
      }
    }

    def listen(spark: SparkSession): SparkListener = {
      val l = new SparkListener {
        private val stageJob = scala.collection.concurrent.TrieMap[Int, Int]()
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          e.stageIds.foreach(stageJob(_) = e.jobId)
          val g = Option(e.properties).flatMap(p =>
            Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
          jobs.synchronized(jobs +=
            s"""{"id":${e.jobId},"group":${Json.str(g)},"start":${e.time / 1e3}}""")
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          jobs.synchronized(jobs += s"""{"id":${e.jobId},"end":${e.time / 1e3}}""")
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
          val i = e.taskInfo
          val m = Option(e.taskMetrics)
          def mv(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
          tasks.synchronized(tasks +=
            s"""{"job":${stageJob.getOrElse(e.stageId, -1)},"launch":${i.launchTime / 1e3},""" +
            s""""finish":${i.finishTime / 1e3},"run_ms":${mv(_.executorRunTime)},""" +
            s""""gc_ms":${mv(_.jvmGCTime)},"shuffle_write_b":${mv(_.shuffleWriteMetrics.bytesWritten)},""" +
            s""""spill_b":${mv(t => t.memoryBytesSpilled + t.diskBytesSpilled)},""" +
            s""""input_b":${mv(_.inputMetrics.bytesRead)},"result_b":${mv(_.resultSize)}}""")
        }
      }
      spark.sparkContext.addSparkListener(l)
      l
    }

    /** Deliver every queued listener event, then detach. */
    def drain(spark: SparkSession, l: SparkListener): Unit = {
      org.apache.spark.perfbenchshim.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }

    def dump(dir: File): Unit = {
      def lines(name: String, ls: Iterable[String]): Unit = {
        val w = new PrintWriter(new File(dir, name), "UTF-8")
        try ls.foreach(w.println) finally w.close()
      }
      lines("spans.jsonl", spans.map { s =>
        s"""{"id":${s(0)},"parent":${s(1)},"name":${Json.str(s(2).toString)},""" +
          s""""start":${s(3)},"end":${Json.num(s(4).asInstanceOf[Double])}}"""
      })
      lines("jobs.jsonl", jobs.synchronized(jobs.toList))
      lines("tasks.jsonl", tasks.synchronized(tasks.toList))
    }
  }
}

/** Just enough JSON writing for the harness's result file. */
object Json {
  final class Obj extends scala.collection.mutable.LinkedHashMap[String, Any]

  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def write(f: File, v: Any): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.print(render(v)) finally w.close()
  }
}

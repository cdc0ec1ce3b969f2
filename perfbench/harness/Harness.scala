package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.{List => JList, Map => JMap}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.GraftSession
import graft.ast._
import graft.compiler.QueryCompiler
import graft.exec.{CorrelateExec, Presenter}
import graft.ingest.{Compact, SortedWriter, TsvLoader}
import graft.ml.{Bpe, NearDup, Pq, Retrieval}
import graft.model.{Catalog, Tables}
import graft.parser.Parser
import graft.sources.Dump

/** One benchmark run inside one JVM: start the session, build the
  * workload's catalog stores `setup_reps` times into fresh cache
  * directories, warm up, then drive the workload's ops in a closed loop (one
  * client, the next op starts when the previous one returns) for the given
  * seconds. Afterwards it saves every distinct op's output for the checker
  * and writes `result.json` (and, traced, `spans.jsonl`) to the out dir.
  *
  * The program is driven only through its public functions; the inputs are
  * the generated statement text, TSV files and call parameters of the spec.
  *
  * Usage: perfbench.Harness <spec.json>
  */
object Harness {
  private val mapper = new ObjectMapper()

  private def obj(x: Any): JMap[String, AnyRef] = x.asInstanceOf[JMap[String, AnyRef]]
  private def list(x: Any): Seq[AnyRef] = x.asInstanceOf[JList[AnyRef]].asScala.toSeq
  private def str(m: JMap[String, AnyRef], k: String): String = m.get(k).toString
  private def num(m: JMap[String, AnyRef], k: String): Double =
    m.get(k).asInstanceOf[Number].doubleValue

  /** Peak resident set of this process (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Cumulative `some` stall of a /proc/pressure resource, in ms. */
  private def psiMs(res: String): Double =
    try {
      val l = scala.io.Source.fromFile(s"/proc/pressure/$res").getLines()
        .find(_.startsWith("some")).get
      l.split(" ").find(_.startsWith("total=")).get.drop(6).toDouble / 1000
    } catch { case _: Throwable => 0.0 }

  private def load1(): Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble

  private def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum

  private def duBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten
      .filterNot(c => c.getName.startsWith(".") && c.getName.endsWith(".crc"))
      .map(c => duBytes(c.getPath)).sum
  }

  private def copyDir(from: String, to: String): Unit = {
    new File(to).mkdirs()
    for (f <- new File(from).listFiles() if f.isFile)
      Files.copy(f.toPath, Paths.get(to, f.getName))
  }

  /** `<spec.json>` runs one spec; `--train <spec.json>...` runs several
    * in one JVM, one session each (the class-data-sharing recording). */
  def main(args: Array[String]): Unit = {
    val specs = if (args(0) == "--train") args.toSeq.tail else args.toSeq.take(1)
    for (path <- specs) {
      val spec = obj(mapper.readValue(new File(path), classOf[JMap[String, AnyRef]]))
      val run = new Run(spec)
      try run.execute() finally run.spark.stop()
    }
  }

  /** The queries a statement compiles, for the traced compile probe. */
  private def queriesOf(s: Statement): Seq[Query] = s match {
    case q: QueryStmt => Seq(q.query)
    case s: SelectStmt => s.from +: s.fields
    case c: CorrelateStmt => Seq(c.queryA, c.queryB)
    case _ => Nil
  }

  /** One executed op: its id, which half of the window it ran in (0
    * untraced, 1 traced), latency, and whether it failed. */
  final case class Exec(op: Int, kind: String, half: Int, ms: Double,
      ok: Boolean, extra: JMap[String, AnyRef] = null)

  final class Run(spec: JMap[String, AnyRef]) {
    val workload = str(spec, "workload")
    val seconds = num(spec, "seconds")
    val traced = num(spec, "trace") > 0
    val cores = num(spec, "cores").toInt
    val outDir = str(spec, "out_dir")
    val workDir = str(spec, "work_dir")

    val t0 = System.nanoTime()
    val spark: SparkSession = GraftSession.local(cores.toString)
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(spark)

    val execs = ArrayBuffer.empty[Exec]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val firstOut = scala.collection.mutable.Map.empty[Int, String]
    val mismatched = scala.collection.mutable.Set.empty[Int]
    val compileMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Double]]
    val result = new java.util.LinkedHashMap[String, AnyRef]()

    private def put(k: String, v: Any): Unit = result.put(k, v.asInstanceOf[AnyRef])

    /** Build the workload's stores under `dir`; returns seconds per store. */
    def buildStores(dir: String): Seq[(String, Double)] = {
      def timed(name: String)(body: => Unit): (String, Double) = {
        val s = System.nanoTime(); body; (name, (System.nanoTime() - s) / 1e9)
      }
      workload match {
        case "search_point" | "search_bulk" => Seq(
          timed("index")(Catalog.index(spark, dir)),
          timed("summaries")(Catalog.summaries(spark, dir)))
        case "ingest_cycle" => Seq(
          timed("summaries")(Catalog.summaries(spark, dir)))
        case "curation_batch" => Seq(
          timed("documents")(Catalog.documents(spark, dir)),
          timed("lex_stats")(Catalog.lexStatsFolded(spark, dir)),
          timed("pq_ivf_store")(Catalog.pqIvfStore(spark, dir)),
          timed("bpe_merges")(Catalog.bpeMergePairs(spark, dir)))
      }
    }

    def execute(): Unit = {
      put("session_start_s", sessionStartS)
      val reps = num(spec, "setup_reps").toInt
      val setups = new java.util.ArrayList[AnyRef]()
      var dir = ""
      for (r <- 1 to reps) {
        dir = s"$workDir/data_rep$r"
        copyDir(str(spec, "data_dir"), dir)
        val s = System.nanoTime()
        val stores = buildStores(dir)
        val m = new java.util.LinkedHashMap[String, AnyRef]()
        m.put("total_s", Double.box((System.nanoTime() - s) / 1e9))
        m.put("stores", stores.toMap.map { case (k, v) => k -> Double.box(v) }.asJava)
        setups.add(m)
      }
      put("setup", setups)
      val setupDone = System.nanoTime()
      val drive: Driver = workload match {
        case "search_point" | "search_bulk" => new SearchDriver(dir)
        case "ingest_cycle" => new IngestDriver(dir)
        case "curation_batch" => new CurationDriver(dir)
      }
      // warm-up: one pass over the workload's op kinds (JIT, codegen and
      // the readers' footer caches); the outputs seen here are the
      // reference the measured outputs must repeat
      val warm = num(spec, "warmup_steps").toInt
      val pass = num(spec, "pass_steps").toInt
      for (i <- 0 until warm) drive.step(i, -1)
      put("warmup_s", (System.nanoTime() - setupDone) / 1e9)

      val halves = if (traced) Seq(0, 1) else Seq(0)
      val perHalf = seconds / halves.size
      val window = new java.util.LinkedHashMap[String, AnyRef]()
      for (h <- halves) {
        if (h == 1) {
          org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
          trace.attach()
          java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
            .foreach(_.resetPeakUsage())
        }
        val (gc0, cpu0, io0) = (gcMs(), psiMs("cpu"), psiMs("io"))
        val start = System.nanoTime()
        val end = start + (perHalf * 1e9).toLong
        var n = 0
        drive.reset()
        // run for the window, then finish the pass under way, so every run
        // measures whole passes of the same op kinds
        while (n == 0 || System.nanoTime() < end || n % pass != 0) {
          drive.step(warm + n, h); n += 1
        }
        val w = new java.util.LinkedHashMap[String, AnyRef]()
        w.put("seconds", Double.box((System.nanoTime() - start) / 1e9))
        w.put("gc_ms", Double.box(gcMs() - gc0))
        w.put("cpu_stall_ms", Double.box(psiMs("cpu") - cpu0))
        w.put("io_stall_ms", Double.box(psiMs("io") - io0))
        w.put("steps", Int.box(n))
        window.put(h.toString, w)
      }
      put("window", window)
      put("load1", load1())
      if (traced) {
        put("heap_peak_mb", java.lang.management.ManagementFactory
          .getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed.toDouble).sum / (1 << 20))
      }
      // outputs for the checker, produced after the timed window
      val saveStart = System.nanoTime()
      drive.saveOutputs()
      put("save_outputs_s", (System.nanoTime() - saveStart) / 1e9)
      put("peak_rss_mb", peakRssMb())
      put("execs", execs.map { e =>
        val m = new java.util.LinkedHashMap[String, AnyRef]()
        m.put("op", Int.box(e.op)); m.put("kind", e.kind)
        m.put("half", Int.box(e.half)); m.put("ms", Double.box(e.ms))
        m.put("ok", Boolean.box(e.ok))
        if (e.extra != null) m.put("extra", e.extra)
        m
      }.asJava)
      put("errors", errors.asJava)
      put("mismatched", mismatched.toSeq.sorted.map(Int.box).asJava)
      put("cores", cores)
      if (traced) writeTrace()
      Files.write(Paths.get(outDir, "result.json"),
        mapper.writeValueAsString(result).getBytes(UTF_8))
    }

    private def writeTrace(): Unit = {
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      val counters = trace.finish()
      val w = Files.newBufferedWriter(Paths.get(outDir, "spans.jsonl"), UTF_8)
      try for (s <- trace.spans if s.op >= 0) {
        val m = new java.util.LinkedHashMap[String, AnyRef]()
        m.put("id", Int.box(s.id)); m.put("name", s.name)
        m.put("start", Double.box(s.start)); m.put("end", Double.box(s.end))
        m.put("parent", Int.box(s.parent)); m.put("op", Int.box(s.op))
        w.write(mapper.writeValueAsString(m)); w.newLine()
      } finally w.close()
      val per = new java.util.LinkedHashMap[String, AnyRef]()
      for ((id, c) <- counters) {
        val m = new java.util.LinkedHashMap[String, AnyRef]()
        m.put("jobs", Int.box(c.jobs)); m.put("stages", Int.box(c.stages))
        m.put("tasks", Int.box(c.tasks)); m.put("failed_tasks", Int.box(c.failedTasks))
        m.put("task_ms", Long.box(c.taskMs)); m.put("shuffle_bytes", Long.box(c.shuffleBytes))
        m.put("spill_bytes", Long.box(c.spillBytes))
        m.put("files_read", Long.box(c.filesRead)); m.put("scan_rows", Long.box(c.scanRows))
        per.put(id.toString, m)
      }
      put("op_counters", per)
      put("compile_ms", compileMs.map { case (k, v) =>
        k.toString -> Double.box(v.sum / v.size) }.asJava)
    }

    /** Run one op, timing it, with the trace span around it when traced.
      * Exceptions count the op as failed. */
    def timedOp[T](opId: Int, kind: String, half: Int)(body: => T): Option[T] = {
      val s = System.nanoTime()
      val r =
        try Some(if (half == 1) trace.op(opId, s"op.$kind")(body) else body)
        catch {
          case e: Throwable =>
            errors.getOrElseUpdate(s"$opId", String.valueOf(e).take(500)); None
        }
      if (half >= 0)
        execs += Exec(opId, kind, half, (System.nanoTime() - s) / 1e6, r.isDefined)
      r
    }

    def sub[T](name: String, half: Int)(body: => T): T =
      if (half == 1) trace.span(name)(body) else body

    /** Keep the first output of each op; a later different output is a
      * mismatch (the program answered one input two ways). */
    def remember(opId: Int, out: String): Unit =
      firstOut.get(opId) match {
        case None => firstOut(opId) = out
        case Some(prev) => if (prev != out) mismatched += opId
      }

    trait Driver {
      /** Execute step `i` of the op stream (half -1 = warm-up). */
      def step(i: Int, half: Int): Unit
      /** Called before each timed half: a stateful stream starts afresh. */
      def reset(): Unit = ()
      def saveOutputs(): Unit
    }

    // ---- search_point / search_bulk: statement text in, presented text out

    final class SearchDriver(dir: String) extends Driver {
      val tables: Tables = Catalog.tables(spark, dir)
      val state = new Presenter.SessionState
      val ops = list(spec.get("ops")).map(obj)

      def step(i: Int, half: Int): Unit = {
        val op = ops(i % ops.size)
        val id = num(op, "id").toInt
        val text = str(op, "text")
        var stmts: List[Statement] = Nil
        timedOp(id, "query", half) {
          stmts = sub("parser.parse", half)(Parser.parseStatements(text))
          stmts.map(s => sub("exec.execute", half)(
            Presenter.execute(spark, tables, state, s))).mkString("\n")
        }.foreach(remember(id, _))
        if (half == 1) {
          // compile is internal to execute; time it by a second compile of
          // the same statements, outside the op window
          val s = System.nanoTime()
          val c = new QueryCompiler(spark, tables)
          stmts.flatMap(queriesOf).foreach(c.compile)
          compileMs.getOrElseUpdate(id, ArrayBuffer.empty) +=
            (System.nanoTime() - s) / 1e6
        }
      }

      def saveOutputs(): Unit = {
        val sql = new java.util.LinkedHashMap[String, AnyRef]()
        sql.put("index", Catalog.indexSql)
        sql.put("summaries", Catalog.summariesSql)
        sql.put("overrides", Catalog.overridesSql)
        // CORRELATE of two leaves: the program's own full-pipeline oracle
        val corr = new java.util.LinkedHashMap[String, AnyRef]()
        for (op <- ops) Parser.parseStatements(str(op, "text")) match {
          case List(CorrelateStmt(Leaf(a), Leaf(b))) =>
            corr.put(str(op, "id"), CorrelateExec.fullOracleSql(Catalog.indexSql, a, b))
          case _ =>
        }
        sql.put("correlate", corr)
        Files.write(Paths.get(outDir, "oracle_sql.json"),
          mapper.writeValueAsString(sql).getBytes(UTF_8))
        for ((id, out) <- firstOut)
          Files.write(Paths.get(outDir, "outputs", s"$id.txt"), out.getBytes(UTF_8))
      }
    }

    // ---- ingest_cycle: TSV generations in, flipped readable generation out

    final class IngestDriver(dir: String) extends Driver {
      val summaries: DataFrame = Catalog.summaries(spark, dir)
      val ing = obj(spec.get("ingest"))
      val gens = list(ing.get("generations")).map(obj)
      val reads = obj(ing.get("reads"))
      val dumpRegex = str(reads, "dump_regex")
      val leafKeys = list(reads.get("leaf_keys")).map(_.toString)
      var epoch = 0
      var base = ""
      var j = gens.size

      override def reset(): Unit = { j = gens.size }

      /** Per-key (rows, score sum) of a posting frame, plus rendered bytes. */
      private def summarize(rows: Array[org.apache.spark.sql.Row]): JMap[String, AnyRef] = {
        val m = new java.util.TreeMap[String, AnyRef]()
        var bytes = 0L
        for (r <- rows) {
          val k = r.getString(0)
          val prev = Option(m.get(k)).map(_.asInstanceOf[JList[AnyRef]])
          val (n, s) = prev.map(p => (p.get(0).asInstanceOf[Number].longValue,
            p.get(1).asInstanceOf[Number].doubleValue)).getOrElse((0L, 0.0))
          m.put(k, java.util.List.of(Long.box(n + 1), Double.box(s + r.getDouble(2))))
          bytes += s"$k\t${r.get(1)}\t${r.get(2)}\n".getBytes(UTF_8).length
        }
        val out = new java.util.LinkedHashMap[String, AnyRef]()
        out.put("keys", m); out.put("bytes", Long.box(bytes))
        out.put("rows", Long.box(rows.length.toLong))
        out
      }

      def step(i: Int, half: Int): Unit = {
        if (j >= gens.size) {
          // a fresh index base per epoch keeps every cycle's live size
          // within the generation count of one epoch
          epoch += 1; j = 0
          base = s"$workDir/ingest/e$epoch/base"
        }
        val g = gens(j)
        val delta = s"$workDir/ingest/e$epoch/delta/g$j"
        val cycleId = 1000 + j
        var genBytes = 0L
        var files = 0
        val cycled = timedOp(cycleId, "cycle", half) {
          sub("ingest.load", half) {
            SortedWriter.write(
              TsvLoader.loadIndex(spark, str(g, "path"), summaries), delta)
          }
          sub("ingest.compact", half) {
            Compact.compactCycle(spark, s"$workDir/ingest/e$epoch/delta", base,
              "key", Seq("key", "off"))
          }
        }
        j += 1
        if (cycled.isDefined && half >= 0) {
          val live = Compact.currentGeneration(base).get
          genBytes = duBytes(live)
          files = Compact.dataFileCount(live)
          val x = new java.util.LinkedHashMap[String, AnyRef]()
          x.put("gen", Int.box(j)); x.put("delta_bytes", Long.box(duBytes(delta)))
          x.put("live_bytes", Long.box(genBytes)); x.put("files", Int.box(files))
          execs(execs.size - 1) = execs.last.copy(extra = x)
        }
        if (cycled.isEmpty) return
        // fixed point reads against the generation just flipped
        val dumped = timedOp(1, "read", half) {
          sub("sources.dump", half) {
            Dump.indexRaw(Compact.readCurrent(spark, base), dumpRegex)
              .select("key", "off", "score").collect()
          }
        }
        dumped.foreach(r => if (half >= 0) {
          val x = summarize(r); x.put("gen", Int.box(j))
          execs(execs.size - 1) = execs.last.copy(extra = x)
        })
        for ((k, ki) <- leafKeys.zipWithIndex) {
          val rows = timedOp(2 + ki, "read", half) {
            sub("ingest.lookup", half) {
              Compact.readCurrent(spark, base).filter(col("key") === k)
                .select("key", "off", "score").collect()
            }
          }
          rows.foreach(r => if (half >= 0) {
            val x = summarize(r); x.put("gen", Int.box(j))
            execs(execs.size - 1) = execs.last.copy(extra = x)
          })
        }
      }

      def saveOutputs(): Unit = {
        // the live generation of the last base, whole: per-key rows and sums
        val rows = Compact.readCurrent(spark, base)
          .groupBy("key").agg(count(lit(1)).as("n"), sum("score").as("s"))
          .collect()
        val live = new java.util.TreeMap[String, AnyRef]()
        rows.foreach(r => live.put(r.getString(0),
          java.util.List.of(Long.box(r.getLong(1)), Double.box(r.getDouble(2)))))
        val m = new java.util.LinkedHashMap[String, AnyRef]()
        m.put("gen", Int.box(j)); m.put("keys", live)
        Files.write(Paths.get(outDir, "live.json"),
          mapper.writeValueAsString(m).getBytes(UTF_8))
      }
    }

    // ---- curation_batch: library calls fully materialized to `noop`

    final class CurationDriver(dir: String) extends Driver {
      val docs: DataFrame = Catalog.documents(spark, dir)
      val emb: DataFrame = Catalog.embeddings(spark, dir)
      val ops = list(spec.get("ops")).map(obj)

      private def frame(op: JMap[String, AnyRef]): DataFrame = {
        import spark.implicits._
        str(op, "call") match {
          case "dedup" => NearDup.ngramJaccard(docs, num(op, "min_jaccard"),
            maxDf = num(op, "max_df").toInt)
          case "bm25" =>
            val qs = bm25Queries(op)
            Retrieval.bm25TopKBatch(docs, qs.toDF("qid", "terms"),
              num(op, "k").toInt, stats = Some(Catalog.lexStatsFolded(spark, dir)),
              termDict = Some(qs.flatMap(_._2).distinct))
          case "ann" => Pq.pqIvfTopKBatchFrom(Catalog.pqIvfStore(spark, dir), emb,
            emb.filter(col("vec_id") < num(op, "max_qid").toLong), num(op, "k").toInt)
          case "bpe" => Bpe.docTokens(
            docs.filter(col("doc_id") >= num(op, "lo").toLong &&
              col("doc_id") < num(op, "hi").toLong),
            Catalog.bpeMergePairs(spark, dir))
        }
      }

      private def bm25Queries(op: JMap[String, AnyRef]): Seq[(Long, Seq[String])] =
        list(op.get("queries")).map { q =>
          val l = list(q)
          (l(0).asInstanceOf[Number].longValue, list(l(1)).map(_.toString))
        }

      def step(i: Int, half: Int): Unit = {
        val op = ops(i % ops.size)
        val id = num(op, "id").toInt
        val call = str(op, "call")
        if (half < 0) {
          // warm-up: the op's full result is written for the checker
          try frame(op).write.mode("overwrite")
            .parquet(Paths.get(outDir, "outputs", id.toString).toString)
          catch {
            case e: Throwable =>
              errors.getOrElseUpdate(s"$id", String.valueOf(e).take(500))
          } finally graft.util.Caches.drain()
        } else timedOp(id, call, half) {
          sub(s"ml.$call", half) {
            try frame(op).write.format("noop").mode("overwrite").save()
            finally graft.util.Caches.drain()
          }
        }
      }

      def saveOutputs(): Unit = {
        val sql = new java.util.LinkedHashMap[String, AnyRef]()
        for (op <- ops) {
          val id = num(op, "id").toInt
          sql.put(id.toString, str(op, "call") match {
            case "dedup" => NearDup.ngramOracleSql(num(op, "min_jaccard"),
              num(op, "max_df").toInt)
            case "bm25" => Retrieval.bm25BatchOracleSql(bm25Queries(op), num(op, "k").toInt)
            case "ann" => Pq.pqIvfBatchOracleSql(num(op, "max_qid").toLong, num(op, "k").toInt)
            case "bpe" => Bpe.docTokensOracleSql()
          })
        }
        Files.write(Paths.get(outDir, "oracle_sql.json"),
          mapper.writeValueAsString(sql).getBytes(UTF_8))
      }
    }
  }
}

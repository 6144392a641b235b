package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.BusAccess
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.functions.Stable
import graft.schemes.{Schemes, ShuffledScheme}
import graft.sources.Tables
import graft.stream.DataStream
import graft.text.Curation
import graft.transform.{Cast, FilterSources, Rename, ScaleAndShift}

/** Runs one benchmark workload against graft's public functions and writes
  * a JSON record of raw samples, per-unit layer counters, check outcomes
  * and the environment. `run.py` turns the record into the result line.
  *
  * Usage: Harness <workload> <dataDir> <seconds> <trace 0|1> <workDir>
  *          <cpus> <seed> <outJson>
  *
  * A run is: session start and graft.Bench's fixed calibration, the
  * workload's one-off preparation, three set-ups (each a new session, the
  * input plan loaded, one untimed warm-up iteration), iterations for about
  * `seconds`, then the untimed output checks. */
object Harness {
  private final case class Conf(workload: String, data: String, seconds: Double,
      traced: Boolean, work: String, cpus: Int, seed: Long, out: String)

  private final class Run(val conf: Conf, val base: SparkSession) {
    var spark: SparkSession = base
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val steps = mutable.ArrayBuffer.empty[Step]
    val checks = mutable.LinkedHashMap.empty[String, (Boolean, String)]
    /** What checks.py needs for a DuckDB replay: the oracle SQL and the file
      * holding the output to compare. */
    var oracle = Map.empty[String, String]
    var attempted = 0L
    var failed = 0L

    def sample(name: String, v: Double): Unit =
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

    def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
      val prev = checks.get(name)
      if (prev.forall(_._1)) checks(name) = (ok, if (ok) "" else detail)
      ok
    }

    def setIter(label: String): Unit = base.sparkContext.setLocalProperty(Tags.Iter, label)

    /** Runs `f` as harness call `op` in `phase`, tagging its jobs; returns
      * the result and the wall seconds. */
    def call[T](op: String, phase: String)(f: => T): (T, Double) = {
      val sc = base.sparkContext
      sc.setLocalProperty(Tags.Op, op)
      sc.setLocalProperty(Tags.Phase, phase)
      val t0 = System.nanoTime()
      try {
        val r = f
        (r, (System.nanoTime() - t0) / 1e9)
      } finally {
        sc.setLocalProperty(Tags.Op, null)
        sc.setLocalProperty(Tags.Phase, null)
      }
    }

    def load(table: String): DataFrame = {
      val (df, s) = call("sources.load", "load")(Tables.load(spark, conf.data, table))
      sample("load_s", s)
      df
    }
  }

  private def now(): Long = System.currentTimeMillis()

  def main(argv: Array[String]): Unit = {
    require(argv.length == 8, "usage: Harness <workload> <dataDir> <seconds> " +
      "<trace 0|1> <workDir> <cpus> <seed> <outJson>")
    val conf = Conf(argv(0), argv(1), argv(2).toDouble, argv(3) == "1", argv(4),
      argv(5).toInt, argv(6).toLong, argv(7))
    val workload: Workload = conf.workload match {
      case "train_stream"  => new TrainStream
      case "curate_corpus" => new CurateCorpus
      case "ann_serve"     => new AnnServe
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val envStart = Env.snapshot()
    val master = s"local[${conf.cpus}]"
    val t0 = System.nanoTime()
    val base = SparkSession.builder()
      .master(master)
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .getOrCreate()
    base.sparkContext.setLogLevel("WARN")
    val contextStartS = (System.nanoTime() - t0) / 1e9
    // graft.Bench's fixed calibration, timed right after session start as
    // Bench times it; it also warms the JVM before the first set-up.
    base.sparkContext.setLocalProperty(Tags.Iter, "calibration")
    val calib = Env.calibrate(base)
    val trace = if (conf.traced) Some(new Trace(Thread.currentThread())) else None
    trace.foreach(base.sparkContext.addSparkListener)
    val run = new Run(conf, base)
    run.setIter("prepare")
    workload.prepare(run)

    // Set-up: a fresh session, the input plan, one untimed warm-up iteration.
    var shortest = Long.MaxValue // the shortest warm iteration so far
    for (k <- 0 until 3) {
      val ts = System.nanoTime()
      run.spark = if (k == 0) base else base.newSession()
      trace.foreach(run.spark.listenerManager.register)
      run.setIter(s"s$k")
      workload.setup(run, s"s$k")
      val ti = System.nanoTime()
      workload.iteration(run, s"s$k", measured = false)
      if (k > 0) shortest = math.min(shortest, System.nanoTime() - ti)
      run.sample("setup_s", (System.nanoTime() - ts) / 1e9)
    }
    // Measured iterations, closed loop, until the time budget is spent.
    val deadline = System.nanoTime() + (conf.seconds * 1e9).toLong
    var k = 0
    val tm = System.nanoTime()
    // An iteration starts only if one as short as the shortest warm
    // iteration would end before the deadline plus half its length.
    while (!workload.done && (k == 0 || System.nanoTime() + shortest / 2 < deadline)) {
      val ti = System.nanoTime()
      workload.iteration(run, s"m$k", measured = true)
      shortest = math.min(shortest, System.nanoTime() - ti)
      k += 1
    }
    val measuredS = (System.nanoTime() - tm) / 1e9
    run.setIter("check")
    val tf = System.nanoTime()
    workload.finish(run)
    val checkS = (System.nanoTime() - tf) / 1e9
    trace.foreach(_ => BusAccess.drain(base.sparkContext))

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> conf.workload, "seed" -> conf.seed, "traced" -> conf.traced,
      "iterations" -> k, "measured_s" -> measuredS, "check_s" -> checkS,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "samples" -> run.samples.map { case (n, v) => n -> v.toSeq }.toMap,
      "checks" -> run.checks.map { case (n, (ok, d)) => n -> Map("ok" -> ok, "detail" -> d) }.toMap,
      "oracle" -> run.oracle,
      "env" -> Map("master" -> master, "context_start_s" -> contextStartS,
        "start" -> envStart, "end" -> Env.snapshot(), "calib_sec" -> calib,
        "rss_peak_mb" -> Env.rssPeakMb(), "spark" -> base.version))
    trace.foreach(t => record ++= Layers.report(run.steps.toSeq, t))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(conf.out), mapper.writeValueAsString(record))
    base.stop()
  }

  // ------------------------------------------------------------ workloads

  private trait Workload {
    /** One-off work before the set-ups, such as building an index that
      * every set-up then opens; not part of `setup_s`. */
    def prepare(r: Run): scala.Unit = ()
    /** Loads the input plan into the current session; `label` tags the
      * jobs it runs. */
    def setup(r: Run, label: String): scala.Unit
    def iteration(r: Run, label: String, measured: Boolean): scala.Unit
    /** True when the input allows no further iteration. */
    def done: Boolean = false
    def finish(r: Run): scala.Unit = ()
  }

  /** fuel's core use: q17's default transform chain feeding a shuffled
    * DataStream; one consumer pulls two epochs with zero step time. */
  private final class TrainStream extends Workload {
    val BatchSize = 256
    var src: DataFrame = _
    var n = 0L
    // The per-batch facts of the first two epochs seen, which every later
    // epoch with the same index must reproduce.
    val reference = mutable.Map.empty[Int, Array[Long]]

    def setup(r: Run, label: String): scala.Unit = {
      src = r.load("lineitem")
      n = Env.inputRows(r.conf.data)
    }

    def iteration(r: Run, label: String, measured: Boolean): scala.Unit = {
      val scheme = ShuffledScheme(BatchSize, r.conf.seed)
      val expectBatches = Schemes.numBatches(scheme, n)
      val t0 = System.nanoTime()
      val t0Ms = now()
      r.setIter(s"$label.e0")
      val (feats, applyS) = r.call("transform.q17", "construct") {
        val pipeline = ScaleAndShift(1.0 / 256, 0.5, Seq("l_quantity")) andThen
          Cast("floatX", Seq("l_quantity")) andThen
          Rename(Map("l_quantity" -> "qty_scaled")) andThen
          FilterSources(Seq("l_orderkey", "l_linenumber", "qty_scaled"))
        pipeline(src)
      }
      val (epochs, _) = r.call("stream.build", "construct") {
        DataStream(feats, scheme, Seq(col("l_orderkey"), col("l_linenumber"))).iterateEpochs()
      }
      for (e <- 0 until 2) {
        val ulabel = s"$label.e$e"
        r.setIter(ulabel)
        val te = if (e == 0) t0 else System.nanoTime()
        val teMs = if (e == 0) t0Ms else now()
        val seen = new java.util.BitSet()
        val facts = mutable.ArrayBuilder.make[Long]
        var rows = 0L
        var dups = 0L
        var batches = 0L
        var waitS = 0.0
        def consume(b: Seq[Row]): scala.Unit = {
          var sumQ = 0L
          b.foreach { row =>
            val key = row.getLong(0) * 8 + row.getInt(1)
            if (seen.get(key.toInt)) dups += 1 else seen.set(key.toInt)
            sumQ += math.round(row.getFloat(2) * 256.0 - 128.0)
          }
          val first = b.head
          val last = b.last
          facts += first.getLong(0) += first.getInt(1) += last.getLong(0) +=
            last.getInt(1) += b.size += sumQ
          rows += b.size
          batches += 1
        }
        val (it, _) = r.call("stream.epoch", "epoch")(epochs.next())
        val (firstBatch, _) = r.call("stream.epoch", "epoch")(it.next())
        val firstS = (System.nanoTime() - te) / 1e9
        val firstMs = now()
        consume(firstBatch)
        r.base.sparkContext.setLocalProperty(Tags.Op, "stream.epoch")
        r.base.sparkContext.setLocalProperty(Tags.Phase, "epoch")
        var last = System.nanoTime()
        while (it.hasNext) {
          val b = it.next()
          val t = System.nanoTime()
          val gap = (t - last) / 1e9
          if (measured) r.sample("batch_wait_ms", gap * 1e3)
          waitS += gap
          consume(b)
          last = System.nanoTime()
        }
        r.base.sparkContext.setLocalProperty(Tags.Op, null)
        r.base.sparkContext.setLocalProperty(Tags.Phase, null)
        val epochS = (System.nanoTime() - te) / 1e9
        val f = facts.result()
        val ok = Seq(
          r.check("stream.exactly_once", rows == n && dups == 0 && seen.cardinality == n,
            s"epoch $e of $label: $rows rows, $dups repeats, ${seen.cardinality} distinct of $n"),
          r.check("stream.batch_count", batches == expectBatches,
            s"epoch $e of $label: $batches batches, Schemes.numBatches says $expectBatches"),
          r.check("stream.replay", reference.get(e).forall(java.util.Arrays.equals(_, f)),
            s"epoch $e of $label differs from the first epoch $e of this run"))
        if (!reference.contains(e)) reference(e) = f
        if (measured) {
          r.attempted += 1
          if (ok.contains(false)) r.failed += 1
          r.sample(s"first_batch_s.e$e", firstS)
          r.sample("epoch_s", epochS)
          r.sample("examples", rows.toDouble)
          // Only epoch 0 applies the transform chain.
          val apply = if (e == 0) Map("transform.apply_s" -> applyS) else Map.empty[String, Double]
          r.steps += Step(ulabel, "epoch", teMs, now(), apply ++ Map(
            "stream.wait_s" -> waitS, "stream.batches" -> batches.toDouble,
            "first_ms" -> firstMs.toDouble))
        }
      }
    }

    override def finish(r: Run): scala.Unit = {
      r.check("stream.epochs_differ",
        !java.util.Arrays.equals(reference(0), reference(1)),
        "epochs 0 and 1 delivered the same batch sequence")
      // The reference epochs, for the DuckDB replay of q53's oracle form.
      val path = s"${r.conf.work}/stream_facts.csv"
      val sb = new StringBuilder("epoch,batch_id,first_ok,first_ln,last_ok,last_ln,n,sum_q\n")
      for (e <- 0 until 2; (row, b) <- reference(e).grouped(6).zipWithIndex)
        sb ++= (Seq(e.toLong, b.toLong) ++ row).mkString(",") += '\n'
      Files.writeString(Paths.get(path), sb.toString)
      val epochs = (0 until 2).map { e =>
        s"""SELECT CAST($e AS BIGINT) AS epoch, l_orderkey, l_linenumber, l_quantity,
           |  row_number() OVER (ORDER BY ${Stable.duckSeededHash(r.conf.seed + e, "i")}, i) - 1 AS pos
           |FROM idx""".stripMargin
      }
      r.oracle = Map("facts" -> path, "sql" ->
        s"""WITH idx AS (
           |  SELECT l_orderkey, l_linenumber, l_quantity,
           |    row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS i FROM lineitem),
           |p AS (${epochs.mkString("\nUNION ALL\n")})
           |SELECT epoch, CAST(floor(pos / $BatchSize) AS BIGINT) AS batch_id,
           |  min_by(l_orderkey, pos) AS first_ok, min_by(l_linenumber, pos) AS first_ln,
           |  max_by(l_orderkey, pos) AS last_ok, max_by(l_linenumber, pos) AS last_ln,
           |  count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_q
           |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    }
  }

  /** A batch LLM-curation job: q59's composition through
    * Curation.curateFull into a noop sink, repeated. */
  private final class CurateCorpus extends Workload {
    var raw: DataFrame = _
    var bench: DataFrame = _
    var nDocs = 0L
    var reference: Option[(Long, Long)] = None
    var refRows: Array[Row] = Array.empty

    def setup(r: Run, label: String): scala.Unit = {
      val docs = r.load("documents")
      nDocs = Env.inputRows(r.conf.data)
      raw = docs.select(col("doc_id"),
        concat(col("text"), lit(" user"), col("doc_id").cast("string"),
          lit("@mail.example.com "),
          (col("doc_id") * 1000003L + 777777L).cast("string")).as("text"))
      bench = raw.filter(col("doc_id") % 41 === 0)
    }

    def iteration(r: Run, label: String, measured: Boolean): scala.Unit = {
      r.setIter(label)
      val t0Ms = now()
      val (df, constructS) = r.call("text.curateFull", "construct")(Curation.curateFull(raw, bench))
      val (_, execS) = r.call("text.curateFull", "exec") {
        df.write.format("noop").mode("overwrite").save()
      }
      val endMs = now()
      val cachedMb = r.base.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1e6
      r.setIter("check")
      val rows = df.collect()
      r.base.catalog.clearCache()
      val fp = Fingerprint.rows(rows)
      val ok = r.check("curate.replay", reference.forall(_ == fp),
        s"$label: result fingerprint differs from the first call of this run")
      if (reference.isEmpty) { reference = Some(fp); refRows = rows }
      if (measured) {
        r.attempted += 1
        if (!ok) r.failed += 1
        r.sample("call_s", constructS + execS)
        r.sample("docs_per_s", nDocs / (constructS + execS))
        r.steps += Step(label, "call", t0Ms, endMs, Map(
          "spark.construct_s" -> constructS, "text.construct_s" -> constructS,
          "text.docs_in" -> nDocs.toDouble, "text.docs_out" -> rows.length.toDouble,
          "text.yield" -> rows.length.toDouble / nDocs, "transform.cached_mb" -> cachedMb))
      }
    }

    override def finish(r: Run): scala.Unit = {
      val path = s"${r.conf.work}/curate_result.csv"
      val cols = Seq("doc_id", "n_tokens", "tok_offset", "first_seq", "last_seq")
      Files.writeString(Paths.get(path), (cols.mkString(",") +: refRows.toSeq.map(
        row => cols.indices.map(row.get).mkString(","))).mkString("\n") + "\n")
      r.oracle = Map("result" -> path,
        "sql" -> graft.SparkEntry.oracleSql("q59_full_curation"))
    }
  }

  /** Writes beside reads on the bucketed PQ store: a partitioned PQ index
    * over 80% of the vectors (q233's parameters), then rounds that each
    * probe one 50-query batch and append one 500-vector batch of the
    * held-out 20%. The index is built once, before the set-ups, as an
    * offline job would build it; each set-up opens it like a serving
    * process (`readPqIndex`) and its warm-up round appends the next batch.
    * The measured rounds append the rest, so every run measures the same
    * rounds unless time runs out first. The first probe of the fresh index
    * takes query batch 0, which the checks compare with in-memory
    * Ann.ivfPqTopK. */
  private final class AnnServe extends Workload {
    val BatchRows = 500
    val QueryRows = 50
    var emb: DataFrame = _
    var seedCorpus: DataFrame = _
    var nVec = 0L
    var queryIds: Array[Long] = Array.empty
    var nBatches = 0
    var cents: Array[Array[Double]] = _
    var cbs: Array[Array[Array[Double]]] = _
    var appended = 0 // held-out batches appended to the current index
    var probes = 0
    var table = ""
    var path = ""
    var freshProbe: Option[Array[Row]] = None
    var expected = (0L, 0L) // fingerprint of in-memory ivfPqTopK on query batch 0
    val checked = mutable.ArrayBuffer.empty[(Int, Array[Long], Array[Row])]

    override def prepare(r: Run): scala.Unit = {
      nVec = Env.inputRows(r.conf.data)
      nBatches = ((nVec / 5) / BatchRows).toInt
      val rnd = new scala.util.Random(r.conf.seed)
      queryIds = rnd.shuffle((0L until nVec).filter(_ % 5 != 4)).toArray
      table = s"perfbench_pq_${r.conf.seed}"
      path = s"${r.conf.work}/warehouse_ann/$table"
      emb = r.load("embeddings")
      seedCorpus = emb.filter(col("vec_id") % 5 =!= 4)
      val (_, writeS) = r.call("ann.writePqIndexPartitioned", "exec") {
        Ann.writePqIndexPartitioned(seedCorpus, table, path, "vec_id", "embedding",
          seed = 42, nCentroids = 16, m = 4, ksub = 16, iters = 1)
      }
      r.sample("index_build_s", writeS)
      r.sample("ann.train_write_s", writeS)
      // The reference for the fresh probe, computed here rather than after
      // the loop: it runs the encode and probe paths once more before any
      // timing, as a warm-up the checks need anyway.
      r.setIter("check")
      expected = Fingerprint.rows(Ann.ivfPqTopK(seedCorpus, queries(0)._2, "vec_id",
        "embedding", k = 5, nCentroids = 16, nProbe = 4, m = 4, ksub = 16,
        oversample = 20, seed = 42, iters = 1).collect())
      // Two untimed probes: with only the set-ups' three warm-up rounds
      // before it, the measured loop's probes were still speeding up.
      val (_, c, b) = Ann.readPqIndex(r.spark, table, path)
      cents = c
      cbs = b
      for (q <- 1 to 2) probe(r, queries(q)._2).collect()
    }

    def setup(r: Run, label: String): scala.Unit = {
      emb = r.load("embeddings")
      r.setIter(s"$label.open")
      val t0Ms = now()
      val ((_, c, b), readS) = r.call("ann.readPqIndex", "exec")(Ann.readPqIndex(r.spark, table, path))
      cents = c
      cbs = b
      r.sample("ann.read_index_s", readS)
      r.steps += Step(s"$label.open", "open", t0Ms, now(), Map.empty)
    }

    /** The query batch of probe number `q`: 50 seed-corpus vectors. */
    private def queries(q: Int): (Array[Long], DataFrame) = {
      val off = (q * QueryRows) % (queryIds.length - QueryRows)
      val ids = queryIds.slice(off, off + QueryRows)
      (ids, emb.filter(col("vec_id").isin(ids.toSeq: _*)))
    }

    private def probe(r: Run, qs: DataFrame): DataFrame =
      Ann.pqProbe(r.spark.table(table), cents, cbs, qs, "vec_id", "embedding",
        k = 5, nProbe = 4, oversample = 20, rerankCorpus = Some(emb),
        broadcastProbe = true)

    def iteration(r: Run, label: String, measured: Boolean): scala.Unit = {
      r.setIter(label)
      val t0Ms = now()
      // The first probe of the fresh index takes query batch 0, which the
      // checks compare with in-memory ivfPqTopK.
      val (ids, qs) = queries(if (appended == 0) 0 else probes)
      probes += 1
      val (probeDf, constructS) = r.call("ann.pqProbe", "construct")(probe(r, qs))
      val (rows, execS) = r.call("ann.pqProbe", "exec")(probeDf.collect())
      if (appended == 0) freshProbe = Some(rows)
      val complete = r.check("ann.probe_complete", rows.length == ids.length * 5,
        s"$label: ${rows.length} result rows for ${ids.length} queries at k = 5")
      val b = appended
      val batch = emb.filter(col("vec_id") % 5 === 4 &&
        col("vec_id") >= 5L * BatchRows * b && col("vec_id") < 5L * BatchRows * (b + 1))
      val (_, appendS) = r.call("ann.appendPqBatch", "exec") {
        Ann.appendPqBatch(batch, table, cents, cbs, batchId = b, "vec_id", "embedding")
      }
      appended += 1
      val endMs = now()
      if (measured) {
        r.attempted += 2
        if (!complete) r.failed += 1
        r.sample("probe_ms", (constructS + execS) * 1e3)
        r.sample("round_s", constructS + execS + appendS)
        r.sample("queries", ids.length.toDouble)
        r.sample("append_ms", appendS * 1e3)
        r.sample("ann.probe_construct_s", constructS)
        r.sample("ann.probe_exec_s", execS)
        r.sample("ann.append_s", appendS)
        if (checked.isEmpty) checked += ((b, ids, rows))
        r.steps += Step(label, "round", t0Ms, endMs, Map("spark.construct_s" -> constructS))
      }
    }

    override def done: Boolean = appended >= nBatches

    override def finish(r: Run): scala.Unit = {
      val files = Files.walk(Paths.get(path)).iterator.asScala.filter(Files.isRegularFile(_))
        .filter(p => !p.getFileName.toString.startsWith(".")).toSeq
      r.sample("ann.index_files", files.size.toDouble)
      r.sample("ann.index_mb", files.map(Files.size(_)).sum / 1e6)
      // The probe of the freshly built index equals in-memory IVF-PQ over
      // the same seed corpus (q229's documented bit identity).
      r.check("ann.fresh_probe_equals_ivfPqTopK",
        freshProbe.exists(Fingerprint.rows(_) == expected),
        "the probe of the fresh index differs from in-memory Ann.ivfPqTopK")
      // recall@5 against exact search over the corpus as the probe saw it:
      // the seed corpus plus the `b` held-out batches appended before it.
      checked.foreach { case (b, ids, rows) =>
        val corpus = emb.filter(col("vec_id") % 5 =!= 4 || col("vec_id") < 5L * BatchRows * b)
        val exact = Ann.bruteForceTopK(corpus, emb.filter(col("vec_id").isin(ids.toSeq: _*)),
          "vec_id", "embedding", k = 5).collect()
        def pairs(x: Array[Row]) =
          x.map(t => (t.getAs[Long]("query_id"), t.getAs[Long]("neighbor_id"))).toSet
        val truth = pairs(exact)
        r.sample("recall_at_5", (truth intersect pairs(rows)).size.toDouble / truth.size)
      }
    }
  }
}

/** Order-independent fingerprints of collected result rows. */
object Fingerprint {
  /** (row count, sum of per-row 64-bit hashes). */
  def rows(rows: Array[Row]): (Long, Long) = {
    var s = 0L
    rows.foreach { r =>
      var h = 1125899906842597L
      r.toSeq.foreach(v => h = 31 * h + String.valueOf(v).hashCode)
      s += mix(h)
    }
    (rows.length.toLong, s)
  }

  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

package graft.perf

import graft.{SparkEntry, Tables}
import graft.catalog.Catalogs
import graft.ext.Dedup
import graft.functions.{Memos, Phases}
import graft.graph.{GraphBuilder, HeteroGraph}
import graft.learn.{DetRandom, LinkSplit, NegativeSampling, TrainLR, TrainedModel}
import graft.serve.{ModelStore, Recommend}
import graft.streaming.{CurationIngest, FpIngest, Maintenance}
import graft.topology.EdgeKey
import org.apache.spark.sql.{Row, SparkSession}

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The paper's link the workloads train and serve: orders—hasPart—part,
  * the edge type lineitem contributes through [[SparkEntry.ordersPartEdge]]. */
object Flow {
  val Target: EdgeKey = EdgeKey("orders", "hasPart", "part")

  /** `GraphBuilder.build` is lazy: it runs no Spark job until the graph is
    * first used. With `materialize` its first materialisation (dense ids,
    * node and edge frames) runs inside the span too; without it that cost
    * lands in whichever later call first reads the graph. */
  def build(r: Run, materialize: Boolean): HeteroGraph = r.tracer.span("graph.build") {
    val g = GraphBuilder.build(Catalogs.tpch, n => Tables.load(r.spark, r.args.data, n),
      extraEdges = Seq(SparkEntry.ordersPartEdge))
    if (materialize) g.materialized() else g
  }

  /** `TrainLR.train` with the program's own phase timers (propagate, fit,
    * validation metrics) drained onto the span. */
  def train(r: Run, g: HeteroGraph): TrainedModel = {
    Phases.drain()
    var phases = Map.empty[String, Double]
    r.tracer.span("learn.train", phases) {
      val m = TrainLR.train(g, Target, seed = r.args.seed)(r.spark)
      phases = Phases.drain()
      m
    }
  }

  /** q28's fit envelope: each flag is a property of L-BFGS, not tuning luck. */
  def envelope(m: TrainedModel): Seq[String] = {
    val vm = m.valMetrics
    Seq(
      "fit_iters > 51" -> !(vm("fit_iters") <= 51.0),
      "loss did not decrease" -> !(vm("fit_obj_final") <= vm("fit_obj_initial") + 1e-9),
      "loss above ln 2" -> !(vm("fit_obj_final") <= math.log(2.0) + 1e-9),
      "validation metric outside [0, 1]" -> !(
        Seq("accuracy", "precision", "recall", "f1")
          .forall(k => vm(k) >= 0.0 && vm(k) <= 1.0) &&
          vm("bce") >= 0.0 && !vm("bce").isNaN))
      .collect { case (what, true) => what }
  }
}

/** `train`: the offline flow end to end, repeated. Memos and the plan cache
  * are cleared before each repetition, as every fresh run of the flow
  * pays them. */
object Train {
  def run(r: Run): Unit = {
    implicit val spark: SparkSession = r.spark
    var last: Option[HeteroGraph] = None
    r.timedLoop(minOps = 3) { _ =>
      try {
        val ((g, m), s) = Main.seconds {
          Memos.clear(spark)
          spark.catalog.clearCache()
          r.tracer.span("op.pipeline") {
            val base = Flow.build(r, materialize = false)
            val g = r.tracer.span("graph.augment")(
              base.addDegree.withReverseEdges.withSelfLoops)
            val m = Flow.train(r, g)
            r.tracer.span("serve.model_save")(
              ModelStore.save(m, s"${r.args.work}/model"))
            (g, m)
          }
        }
        r.op("pipeline", s, Flow.envelope(m))
        last = Some(g)
      } catch { case NonFatal(e) => r.fail("pipeline", e) }
    }
    r.info("input_rows") = Map(
      "orders" -> Tables.load(spark, r.args.data, "orders").count(),
      "lineitem" -> Tables.load(spark, r.args.data, "lineitem").count())
    last.foreach(g => r.check("split_counts")(splitCounts(r, g)))
  }

  /** The split and negative-sample sizes `TrainLR.train` draws for the
    * seed, counted by the engine's own `LinkSplit`/`NegativeSampling`
    * (q28's predicates: seed for the split, seed+1 / seed+2 for the
    * negatives), against the closed form replayed in plain Scala with
    * `DetRandom.mixLong` over the collected edge list. */
  def splitCounts(r: Run, g: HeteroGraph): Seq[String] = {
    val seed = r.args.seed
    val e = g.edges(Flow.Target)
    val nDst = g.idSpaceSize(Flow.Target.dst)
    val split = LinkSplit.split(g, Flow.Target, 0.15, seed)
    val engine = Seq(split.trainPos.count(), split.valPos.count(),
      NegativeSampling.sample(split.trainPos, e, nDst, seed + 1).count(),
      NegativeSampling.sample(split.valPos, e, nDst, seed + 2).count())
    val pairs = e.collect().map(row =>
      (row.getAs[Number]("src").longValue, row.getAs[Number]("dst").longValue))
    val edgeSet = pairs.toSet
    def u(p: (Long, Long)) =
      DetRandom.mixLong(p._1, p._2, seed).toDouble / DetRandom.M.toDouble
    val (trainPos, valPos) = pairs.partition(u(_) >= 0.15)
    def negs(ps: Array[(Long, Long)], s: Long) = ps.count { case (a, b) =>
      !edgeSet((a, DetRandom.mixLong(a, b, s) % nDst))
    }.toLong
    val closed = Seq(trainPos.length.toLong, valPos.length.toLong,
      negs(trainPos, seed + 1), negs(valPos, seed + 2))
    if (engine == closed) Nil
    else Seq(s"engine (train, val, train neg, val neg) $engine != closed form $closed")
  }
}

/** `serve`: one client in a closed loop, the user of the reference's
  * Streamlit page who submits a playlist and waits for its top-k. Set-up
  * builds and materialises the graph once and trains the head; every
  * request then mutates the shared graph with its own seed node. The probe
  * playlist is asked once in set-up and once more after the timed loop,
  * so its repeat is checked without adding repeats to the timed traffic. */
object Serve {
  val K = 10

  def run(r: Run): Unit = {
    implicit val spark: SparkSession = r.spark
    val playlists = Files.readAllLines(Paths.get(r.args.inputs, "playlists.txt"))
      .asScala.map(_.trim.split(" ").map(_.toLong).toSeq).toIndexedSeq
    val probe = playlists.head
    val ((g, head, probeAnswer), setupS) = Main.seconds {
      r.tracer.recorded(r.args.trace) {
        val base = Flow.build(r, materialize = true)
        val g = r.tracer.span("graph.augment")(
          base.addDegree.withReverseEdges.withSelfLoops.materialized())
        val trained = Flow.train(r, g)
        // the head is served the way the reference's page loads it: from
        // the persisted checkpoint
        val model = s"${r.args.work}/model"
        r.tracer.span("serve.model_save")(ModelStore.save(trained, model))
        val head = r.tracer.span("serve.model_load")(ModelStore.load(model))
        // the probe playlist's first answer, which every repeat must match
        (g, head, request(r, g, head, probe))
      }
    }
    r.setupSamples += setupS
    r.info("storage_mb_setup") = r.storageMb()
    r.check("probe_response")(response(probeAnswer, probe))
    val stream = playlists.tail
    r.timedLoop(minOps = 3) { i =>
      val pl = stream(i % stream.size)
      try {
        val (rows, s) = Main.seconds(request(r, g, head, pl))
        r.op("request", s, response(rows, pl))
      } catch { case NonFatal(e) => r.fail("request", e) }
    }
    r.check("probe_repeat") {
      val again = request(r, g, head, probe)
      if (again == probeAnswer) Nil
      else Seq(s"probe playlist answered ${ids(again)}, first ${ids(probeAnswer)}")
    }
    r.info("parts") = g.idSpaceSize(Flow.Target.dst)
  }

  def request(r: Run, g: HeteroGraph, head: TrainedModel, seeds: Seq[Long])(
      implicit spark: SparkSession): Seq[Row] =
    r.tracer.span("op.request") {
      val df = r.tracer.span("serve.plan")(
        Recommend.recommend(g, Flow.Target, seeds, K, model = Some(head)))
      r.tracer.span("serve.exec")(df.collect().toSeq)
    }

  private def ids(rows: Seq[Row]) = rows.map(_.getAs[Long]("id")).mkString(",")

  /** k rows, none of them a seed part, ordered by (logit desc, id asc). */
  def response(rows: Seq[Row], seeds: Seq[Long]): Seq[String] = {
    val got = rows.map(x => (x.getAs[Long]("id"), x.getAs[Double]("logit")))
    val ordered = got.zip(got.drop(1)).forall { case ((i1, l1), (i2, l2)) =>
      l1 > l2 || (l1 == l2 && i1 < i2)
    }
    Seq(
      s"${got.size} rows, expected $K" -> (got.size != K),
      "a seed part was recommended" -> got.exists { case (i, _) => seeds.contains(i) },
      "not ordered by (logit desc, id asc)" -> !ordered)
      .collect { case (what, true) => what }
  }
}

/** `ingest`: the streaming curation chain over the documents corpus,
  * landed as seeded micro-batches. After each batch the harness waits on
  * `processAllAvailable` (a closed loop). Halfway through the corpus and at
  * its end the stores are folded (no eviction) and the keep verdict is
  * read, so writes and reads alternate. When the time allows another
  * pass, the corpus is ingested again into fresh stores. */
object Ingest {
  /** A micro-batch's three parallel legs, told apart by the stores their
    * plans read or write: the image and audio fingerprint legs (the
    * `multimodal` layer) and the text gate. */
  def legOf(plan: String): Option[String] =
    if (plan.contains("/store/image") || plan.contains("perfbench_img_")) Some("image")
    else if (plan.contains("/store/audio") || plan.contains("perfbench_aud_")) Some("audio")
    else if (plan.contains("/store/gate")) Some("gate")
    else None

  def run(r: Run): Unit = {
    val batchDir = Paths.get(r.args.inputs, "batches")
    val batches = Files.list(batchDir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
    val docsPerBatch = Files.readAllLines(batchDir.resolve("docs.txt")).asScala
      .map(_.trim.toLong).toIndexedSeq
    var verdicts = Seq.empty[Seq[Row]]
    var docs = 0L
    var round = 0
    val t0 = System.nanoTime()
    while (round == 0 || (System.nanoTime() - t0) / 1e9 < r.args.seconds) {
      try {
        verdicts :+= pass(r, round, batches)
        docs += docsPerBatch.sum
      } catch { case NonFatal(e) => r.fail("pass", e) }
      round += 1
    }
    r.info("docs") = docs
    r.info("passes") = round
    r.check("verdict_equals_q164") {
      val ref = SparkEntry.queries("q164_multimodal_curation")(r.spark, r.args.data)
        .orderBy("doc_id").collect().toSeq
      verdicts.zipWithIndex.collect { case (v, i) if v != ref =>
        s"pass $i: final verdict differs from q164 in ${v.diff(ref).size} rows"
      }
    }
  }

  /** One pass over the corpus into fresh stores; returns the final verdict. */
  private def pass(r: Run, round: Int, batches: Seq[Path]): Seq[Row] = {
    val spark = r.spark
    val root = Paths.get(r.args.work, s"ingest-$round")
    val inDir = root.resolve("in"); val stage = root.resolve("stage")
    Files.createDirectories(inDir); Files.createDirectories(stage)
    val store = root.resolve("store").toString
    val imgTbl = s"perfbench_img_$round"; val audTbl = s"perfbench_aud_$round"
    val opBase = round * batches.size
    def traced(b: Int) = r.args.trace && r.tracedPosition(opBase + b)
    val (q, startS) = Main.seconds(r.tracer.recorded(r.args.trace)(
      r.tracer.span("streaming.start")(CurationIngest.startBucketed(
        spark, inDir.toString, store, imgTbl, audTbl, root.resolve("ckpt").toString))))
    r.setupSamples += startS
    var verdict = Seq.empty[Row]
    var inputBytes = 0L
    try {
      val t0 = System.nanoTime()
      for ((src, b) <- batches.zipWithIndex) {
        r.tracer.op = opBase + b
        val staged = Files.copy(src, stage.resolve(src.getFileName))
        inputBytes += Files.size(staged)
        r.tracer.recorded(traced(b)) {
          val (_, s) = Main.seconds(r.tracer.span("streaming.batch") {
            Files.move(staged, inDir.resolve(src.getFileName),
              StandardCopyOption.ATOMIC_MOVE)
            q.processAllAvailable()
          })
          r.op("batch", s, q.exception.map(_.toString).toSeq)
          if (b + 1 == (batches.size + 1) / 2 || b + 1 == batches.size) {
            val committed = q.lastProgress.batchId
            val (_, fs) = Main.seconds(r.tracer.span("streaming.fold")(
              Maintenance.compactCurationStore(spark, store, imgTbl, audTbl,
                upToBatch = committed)))
            r.op("fold", fs, Nil)
            val (v, vs) = Main.seconds(r.tracer.span("streaming.verdict")(
              CurationIngest.verdict(spark, store).orderBy("doc_id").collect().toSeq))
            r.op("verdict", vs, Nil)
            verdict = v
          }
        }
      }
      r.loopS += (System.nanoTime() - t0) / 1e9
      val (files, bytes) = storeSize(root.resolve("store"),
        Paths.get(r.args.work, "warehouse", imgTbl), Paths.get(r.args.work, "warehouse", audTbl))
      r.info("store_files") = files
      r.info("store_bytes_per_input_byte") = bytes.toDouble / inputBytes
      if (r.args.trace) r.tracer.recorded(on = true) {
        // the CC behind the verdict, timed alone over the final pairs log
        r.tracer.span("ext.dedup_groups")(Dedup.dedupGroups(
          spark.read.parquet(CurationIngest.gateDir(store)).select("doc_id").distinct(),
          FpIngest.pairs(spark, CurationIngest.imageDir(store))).collect())
      }
    } finally {
      q.stop()
      spark.sql(s"DROP TABLE IF EXISTS $imgTbl")
      spark.sql(s"DROP TABLE IF EXISTS $audTbl")
      delete(root.toFile)
    }
    verdict
  }

  /** Regular files (checksum sidecars excluded) and their bytes under the
    * stores and the two bucketed fingerprint tables. */
  private def storeSize(dirs: Path*): (Long, Long) = {
    val files = dirs.filter(Files.exists(_)).flatMap(d =>
      Files.walk(d).iterator().asScala.filter(p =>
        Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc")).toSeq)
    (files.size.toLong, files.map(Files.size).sum)
  }

  private def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}

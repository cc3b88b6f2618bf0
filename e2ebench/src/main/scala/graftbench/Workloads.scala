package graftbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CurateCli, GraftCli}
import graft.operators.{Dedup, DedupLedger, StudyOps}
import graft.pipeline.{ClinicalPipeline, OmicsPipeline}
import graft.sources.{ClinicalMapping, OmicsSources, TsvReader}

/** One user operation. `stage` (untimed) lays out its inputs, `run` is
  * the timed call into the program, `check` lists what is wrong with the
  * output (empty = correct), and `replay` re-runs the operation's layers
  * one public call at a time for the traced rounds, on inputs or a
  * pre-operation copy of the state, after `run`. `damage` (self-test
  * only) breaks the output so that `check` must fail. */
final case class Op(kind: String, inputBytes: Long, state: Path,
                    stage: () => Unit, run: () => Unit, check: () => Seq[String],
                    replay: Tracer => Unit = _ => (), damage: Option[() => Unit] = None)

/** A workload: seeded inputs, a cached starting state, and rounds of
  * operations. Every round starts from a fresh copy of that state, so
  * rounds are identical; round 0 (or a part of it) is set-up's warm-up. */
trait Workload {
  /** Writes the seeded inputs (excluded from set-up time). */
  def generateFiles(): Unit
  /** Builds the cached starting state unless it exists (part of the
    * build step) and loads what the rounds need to know about it. */
  def prepare(spark: SparkSession): Unit
  def round(spark: SparkSession, r: Int, traced: Boolean): Seq[Op]
  /** Set-up's warm-up: round 0, or a part of it. */
  def warmUp(spark: SparkSession): Seq[Op] = round(spark, 0, traced = false)
  /** Traced runs only: layer replays of operations the rounds do not run. */
  def replayExtra(spark: SparkSession, tr: Tracer): Unit = ()
  /** Bytes on disk per input byte after round `r`. */
  def storedRatio(r: Int): Double
  /** Drops round `r`'s state (untimed). */
  def cleanup(r: Int): Unit
  /** Planted duplicates found per cycle: (exact recall, near recall). */
  val recalls = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Sizes; `tiny` is the self-test's. `prefillSubjects`: subjects per
  * pre-filled study; `wide`: (subjects, numeric, categorical columns) of
  * the wide clinical file; `probes` x `samples`: the expression matrix;
  * `corpus` / `batch`: documents. */
final case class Scale(prefillSubjects: Int, wide: (Int, Int, Int), probes: Int, samples: Int,
                       corpus: Int, batch: Int)

object Scale {
  val full = Scale(prefillSubjects = 40, wide = (120, 34, 14), probes = 1000, samples = 12,
    corpus = 2000, batch = 400)
  val tiny = Scale(prefillSubjects = 6, wide = (10, 30, 12), probes = 20, samples = 3,
    corpus = 200, batch = 60)
}

object Workloads {

  val names: Seq[String] = Seq("warehouse_ops", "curate_cycles")

  def apply(name: String, work: Path, cache: Path, cacheKey: String, seed: Long,
            s: Scale): Workload = name match {
    case "warehouse_ops" => new WarehouseOps(work, cache, cacheKey, seed, s)
    case "curate_cycles" => new CurateCycles(work, cache, cacheKey, seed, s)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  // --------------------------------------------------------------- shared

  /** The program's own messages go to stderr: stdout carries only the
    * benchmark's result. */
  def quiet[A](body: => A): A = Console.withOut(System.err)(body)

  def cli(spark: SparkSession, args: String*): Unit = {
    val code = quiet(GraftCli.run(spark, args))
    if (code != 0) throw new IllegalStateException(s"graft-etl ${args.mkString(" ")} exited $code")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def partitionRows(spark: SparkSession, wh: Path, table: String, col: String,
                    value: String): Long = {
    val p = wh.resolve(s"$table.parquet").resolve(s"$col=$value")
    if (!Files.isDirectory(p)) 0L else spark.read.parquet(p.toString).count()
  }

  def expectEq(what: String, got: Long, want: Long): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")

  def checkClinical(spark: SparkSession, wh: Path, data: Path,
                    e: Gen.ClinicalExpect): Seq[String] = {
    val done =
      if (Files.isDirectory(data.resolve("_DONE_" + e.label))) Nil
      else Seq(s"${e.label}: no _DONE_ marker")
    val leaves = GraftCli.readTable(spark, wh, "concept_counts")
      .filter(col("concept_path").isin(e.leaves.map(_._1): _*))
      .select(col("concept_path"), col("patient_count")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    done ++
      expectEq(s"${e.trial} observation_fact rows",
        partitionRows(spark, wh, "observation_fact", "sourcesystem_cd", e.trial), e.facts) ++
      expectEq(s"${e.trial} patient_dimension rows",
        partitionRows(spark, wh, "patient_dimension", "trial", e.trial), e.patients) ++
      e.leaves.flatMap { case (p, n) =>
        expectEq(s"concept_counts[$p]", leaves.getOrElse(p, -1L), n)
      }
  }

  /** Layer replay of a clinical upload: `sources` (mapping + TSV read,
    * materialized) and `pipeline` (ClinicalPipeline outputs materialized). */
  def replayClinical(spark: SparkSession, tr: Tracer, study: Path, e: Gen.ClinicalExpect): Unit = {
    val dir = study.resolve("ClinicalDataToUpload")
    val (mapping, data) = tr.span("sources.read_s") {
      val m = ClinicalMapping.load(spark, dir.resolve(s"${e.trial}_Mapping_File.txt").toString)
      val d = m.files.map(f => f -> TsvReader.read(spark, dir.resolve(f).toString)).toMap
      d.values.foreach(noop)
      (m, d)
    }
    tr.value("sources.input_mb", e.inputBytes / 1e6)
    val t = tr.span("pipeline.clinical_s") {
      val t = ClinicalPipeline.run(spark, e.trial, s"\\Public Studies\\${e.label}", mapping, data,
        failOnNumericDuplicates = true)
      Seq(t.observationFact, t.patientDimension, t.conceptDimension, t.i2b2, t.conceptCounts)
        .foreach(noop)
      t
    }
    tr.value("pipeline.facts", t.observationFact.count().toDouble)
    spark.catalog.clearCache()
  }

  /** Layer replay of an expression upload: `sources` (matrix read + melt
    * + platform read) and `pipeline` (OmicsPipeline.run on the melt). */
  def replayExpression(spark: SparkSession, tr: Tracer, study: Path, e: Gen.Expression,
                       inputBytes: Long): Unit = {
    val dir = study.resolve("ExpressionDataToUpload")
    val (melted, platform) = tr.span("sources.read_s") {
      val m = OmicsSources.meltMatrix(TsvReader.readFast(spark,
        dir.resolve(s"${e.trial}_Gene_Expression_Data_R.txt").toString))
      val (_, p) = OmicsSources.readPlatform(spark, dir.resolve(s"${e.platform.id}.txt").toString)
      noop(m); noop(p)
      (m, p)
    }
    tr.value("sources.input_mb", inputBytes / 1e6)
    val sampleMap = GraftCli.readOmicsSampleMap(spark,
        dir.resolve(s"${e.trial}_Subject_Sample_Mapping_File.txt").toString)
      .withColumn("sample_id", col("sample_cd"))
      .withColumn("platform_name", col("platform"))
      .withColumn("tissuetype", col("tissue_type"))
      .withColumn("attr1", col("attribute_1"))
      .withColumn("attr2", col("attribute_2"))
    tr.span("pipeline.omics_s") {
      val t = OmicsPipeline.run(spark, e.trial, s"\\Public Studies\\${e.label}\\", sampleMap,
        melted, platform)
      noop(t.data); noop(t.sampleMapping)
    }
    spark.catalog.clearCache()
  }

  def checkMicroarray(spark: SparkSession, wh: Path, trial: String, rows: Long): Seq[String] =
    expectEq(s"$trial microarray rows",
      partitionRows(spark, wh, "de_subject_microarray_data", "trial_name", trial), rows)

  /** Builds a cached state once: `build` fills a temporary directory,
    * which is then renamed to `dir` (so a killed build leaves no cache). */
  def cached(dir: Path)(build: Path => Unit): Unit =
    if (!Files.isDirectory(dir)) {
      val tmp = dir.resolveSibling(s"building-${ProcessHandle.current().pid()}")
      Io.deleteTree(tmp)
      build(tmp)
      Files.move(tmp, dir)
    }

  def readTsv(p: Path): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(p.toFile)
    try src.getLines().map(_.split('\t')).toVector finally src.close()
  }

  /** Stored bytes per input byte of a warehouse holding `inputs`. */
  def ratio(dirs: Seq[Path], inputBytes: Long): Double =
    dirs.map(Io.bytes).sum.toDouble / math.max(1L, inputBytes)
}

import Workloads._

/** Maintenance on a pre-filled warehouse of three studies: P01 and P02
  * (small clinical studies) and P03 (a wide clinical file, past the 64 KB
  * code-generation limit, plus an expression dataset). Every round copies
  * the pre-filled warehouse (untimed), moves P01 or P02 (chosen by the
  * seed) from `\Public Studies` to `\Archive` and deletes P03 by id.
  *
  * The pre-filled warehouse is generated from a fixed seed and built by
  * the program under test once per source hash (part of the build step);
  * it is cached under the benchmark's build directory. Uploads are not
  * in the rounds (a cold upload alone takes most of a run's budget): the
  * traced run replays an upload's layers on a wide clinical study and an
  * expression dataset generated from the seed. */
final class WarehouseOps(work: Path, cache: Path, cacheKey: String, seed: Long, s: Scale)
    extends Workload {
  private val PrefillSeed = 0L
  private val inputs = work.resolve("inputs")
  private val prefillDir = cache.resolve(s"prefill-${s.prefillSubjects}-${s.wide._2}-${s.probes}-$cacheKey")
  private def roundWh(r: Int) = work.resolve(s"round-$r")
  /** Copy of the warehouse before a traced op, for the layer replay (which writes). */
  private val replayWh = work.resolve("replay-wh")

  private def small(i: Int) = Gen.Clinical(f"BP$i%02d", f"Study P$i%02d", s.prefillSubjects, 1, 6, 4)
  private val wideP03 = Gen.Clinical("BP03", "Study P03", s.prefillSubjects, 1, s.wide._2, s.wide._3)
  private def expression(trial: String, label: String) =
    Gen.Expression(trial, label, Gen.Platform("GPL9100", s.probes), s.samples)
  private val moveFrom = small(1 + Math.floorMod(seed, 2L).toInt)
  private val deleteTrial = wideP03.trial

  /** The traced run's replay inputs. */
  private val wide = Gen.Clinical("BWIDE", "Wide Study", s.wide._1, 1, s.wide._2, s.wide._3)
  private val wideExpression = expression(wide.trial, wide.label)
  private var wideExpect: Gen.ClinicalExpect = _
  private var wideExpressionBytes = 0L

  /** trial -> (input bytes, observation_fact rows) of the pre-filled studies */
  private var prefilled = Map.empty[String, (Long, Long)]

  def generateFiles(): Unit = {
    wideExpect = Gen.writeClinical(inputs.resolve("clinical"), wide, seed)
    wideExpressionBytes = Gen.writeExpression(inputs.resolve("expression"), wideExpression, seed)
  }

  def prepare(spark: SparkSession): Unit = {
    cached(prefillDir) { tmp =>
      val data = tmp.resolve("data")
      val wh = tmp.resolve("wh")
      // the expression upload adds one fact per sample to P03
      val clinical = Seq(small(1), small(2), wideP03).map(Gen.writeClinical(data, _, PrefillSeed))
        .map(c => if (c.trial == wideP03.trial) c.copy(facts = c.facts + s.samples) else c)
      val omicsBytes = Gen.writeExpression(data, expression(wideP03.trial, wideP03.label),
        PrefillSeed)
      cli(spark, "-o", wh.toString, data.toString)
      spark.catalog.clearCache()
      val problems = clinical.flatMap(checkClinical(spark, wh, data, _)) ++
        checkMicroarray(spark, wh, wideP03.trial, s.probes.toLong * s.samples)
      if (problems.nonEmpty)
        throw new IllegalStateException("pre-filled warehouse: " + problems.mkString("; "))
      Gen.write(tmp.resolve("inputs.tsv"), clinical.map { c =>
        val b = c.inputBytes + (if (c.trial == wideP03.trial) omicsBytes else 0L)
        s"${c.trial}\t$b\t${c.facts}\n"
      }.mkString)
      Io.deleteTree(data)
    }
    prefilled = readTsv(prefillDir.resolve("inputs.tsv"))
      .map(a => a(0) -> ((a(1).toLong, a(2).toLong))).toMap
  }

  /** After a move: nothing left under the old path, rows under the new
    * one, and the study's facts intact. */
  private def moved(spark: SparkSession, wh: Path, from: String, to: String): Seq[String] = {
    val i2b2 = GraftCli.readTable(spark, wh, "i2b2")
    val left = i2b2.filter(col("c_fullname").startsWith(from + "\\")).count()
    val arrived = i2b2.filter(col("c_fullname").startsWith(to + "\\")).count()
    expectEq(s"i2b2 rows left under $from", left, 0L) ++
      (if (arrived > 0) Nil else Seq(s"no i2b2 rows under $to")) ++
      expectEq(s"${moveFrom.trial} observation_fact rows after the move",
        partitionRows(spark, wh, "observation_fact", "sourcesystem_cd", moveFrom.trial),
        prefilled(moveFrom.trial)._2)
  }

  def round(spark: SparkSession, r: Int, traced: Boolean): Seq[Op] = {
    val wh = roundWh(r)
    val replayCopy = () => if (traced) { Io.deleteTree(replayWh); Io.copyTree(wh, replayWh) }
    val (from, to) = (s"\\Public Studies\\${moveFrom.label}", s"\\Archive\\${moveFrom.label}")
    Seq(
      Op("move", prefilled(moveFrom.trial)._1, wh,
        stage = () => { Io.copyTree(prefillDir.resolve("wh"), wh); replayCopy() },
        run = () => cli(spark, "-o", wh.toString, "--move-study", s"$from;$to"),
        check = () => moved(spark, wh, from, to),
        replay = tr => {
          val star = tr.span("core.load_star_s")(GraftCli.loadStar(spark, replayWh))
          val res = tr.span("operators.study_ops_s")(
            StudyOps.moveStudyByPath(spark, star, from, to))
          tr.span("core.write_star_s")(
            GraftCli.writeStar(res.star, replayWh, Some(res.deletedTrial.toSeq)))
        },
        damage = Some(() => Io.deleteTree(wh.resolve("observation_fact.parquet")
          .resolve(s"sourcesystem_cd=${moveFrom.trial}")))),
      // the check covers every table, the expression ones included
      Op("delete", prefilled(deleteTrial)._1, wh, replayCopy,
        run = () => cli(spark, "-o", wh.toString, "--delete-study-by-id", deleteTrial),
        check = () => {
          val left = Io.snapshot(wh).keys.filter(_.contains(s"=$deleteTrial")).toSeq
          if (left.isEmpty) Nil
          else Seq(s"$deleteTrial still has ${left.size} partition files, e.g. ${left.head}")
        },
        replay = tr => {
          val star = tr.span("core.load_star_s")(GraftCli.loadStar(spark, replayWh))
          val (out, trial) = tr.span("operators.study_ops_s")(
            (StudyOps.deleteStudy(spark, star, None, Some(deleteTrial)),
              StudyOps.resolveTrial(star, None, Some(deleteTrial))))
          tr.span("core.write_star_s")(GraftCli.writeStar(out, replayWh, Some(trial.toSeq)))
        }))
  }

  override def replayExtra(spark: SparkSession, tr: Tracer): Unit = {
    replayClinical(spark, tr, inputs.resolve("clinical").resolve(wide.label), wideExpect)
    replayExpression(spark, tr, inputs.resolve("expression").resolve(wide.label),
      wideExpression, wideExpressionBytes)
  }

  /** After a round the warehouse holds P01 and P02. */
  def storedRatio(r: Int): Double =
    ratio(Seq(roundWh(r)), prefilled.filter(_._1 != deleteTrial).values.map(_._1).sum)

  def cleanup(r: Int): Unit = { Io.deleteTree(roundWh(r)); Io.deleteTree(replayWh) }
}

/** Ingest cycles through `CurateCli.runCycle`. The starting state — a
  * corpus and the ledger its bootstrap cycle built — is generated from a
  * fixed seed and built once per source hash (part of the build step).
  * A round is `CyclesPerRound` ingest cycles of the batch generated from
  * the seed, each on its own copy of that state (untimed), so all of them
  * do the same work; each adds the ledger's second partition. */
final class CurateCycles(work: Path, cache: Path, cacheKey: String, seed: Long, s: Scale)
    extends Workload {
  private val BootSeed = 0L
  private val CyclesPerRound = 2
  private val inputs = work.resolve("inputs")
  private val bootDir = cache.resolve(s"bootstrap-${s.corpus}-${s.batch}-$cacheKey")
  private val pre = work.resolve("replay-state")
  private def roundState(r: Int) = work.resolve(s"round-$r")
  private var batch: Gen.Batch = _
  /** input bytes of the corpus and the bootstrap batch */
  private var bootBytes = 0L

  def generateFiles(): Unit =
    batch = Gen.writeBatch(inputs, seed, Gen.corpusDocs(BootSeed, s.corpus), s.batch, 1)

  private def opts(state: Path, b: Path, ingest: String) = CurateCli.Options(
    corpus = state.resolve("corpus").toString, batch = b.toString,
    ledger = state.resolve("ledger").toString, out = state.resolve(s"out-$ingest").toString,
    ingest = ingest)

  def prepare(spark: SparkSession): Unit = {
    cached(bootDir) { tmp =>
      val in = tmp.resolve("inputs")
      val corpus = Gen.corpusDocs(BootSeed, s.corpus)
      val corpusBytes = Gen.writeDocs(corpus, in.resolve("corpus"))
      val boot = Gen.writeBatch(in, BootSeed, corpus, s.batch, 0)
      Io.copyTree(in.resolve("corpus"), tmp.resolve("state/corpus"))
      val (k, e, n) = quiet(CurateCli.runCycle(spark, opts(tmp.resolve("state"), boot.path, "c00")))
      if (k + e + n != boot.size)
        throw new IllegalStateException(s"bootstrap cycle: kept+exact+near ${k + e + n} != ${boot.size}")
      Gen.write(tmp.resolve("inputs.tsv"), s"${corpusBytes + boot.bytes}\n")
      Io.deleteTree(in)
    }
    bootBytes = readTsv(bootDir.resolve("inputs.tsv")).head(0).toLong
  }

  override def warmUp(spark: SparkSession): Seq[Op] = round(spark, 0, traced = false).take(1)

  def round(spark: SparkSession, r: Int, traced: Boolean): Seq[Op] =
    (1 to CyclesPerRound).map(i => cycle(spark, roundState(r).resolve(s"cycle-$i"), traced))

  private def cycle(spark: SparkSession, state: Path, traced: Boolean): Op = {
    val o = opts(state, batch.path, "c01")
    var counts = (0L, 0L, 0L)
    Op("cycle", batch.bytes, state,
      stage = () => {
        Io.copyTree(bootDir.resolve("state/corpus"), state.resolve("corpus"))
        Io.copyTree(bootDir.resolve("state/ledger"), state.resolve("ledger"))
        if (traced) {
          Io.deleteTree(pre)
          Io.copyTree(state.resolve("corpus"), pre.resolve("corpus"))
          Io.copyTree(state.resolve("ledger"), pre.resolve("ledger"))
        }
      },
      run = () => counts = quiet(CurateCli.runCycle(spark, o)),
      check = () => {
        val v = spark.read.parquet(o.out)
        def found(ids: Set[Long], verdict: String) =
          v.filter(col("doc_id").isin(ids.toSeq: _*) && col("verdict") === verdict).count()
        val exact = found(batch.exact, "exact")
        val near = found(batch.near, "near")
        recalls += ((exact.toDouble / batch.exact.size, near.toDouble / batch.near.size))
        val (k, e, n) = counts
        expectEq("kept+exact+near", k + e + n, batch.size.toLong) ++
          expectEq("planted exact copies verdicted exact", exact, batch.exact.size.toLong)
      },
      replay = tr => {
        val p = opts(pre, batch.path, "c01")
        val corpus = tr.span("core.corpus_read_s") {
          val c = graft.core.CorpusStore.read(spark, p.corpus); noop(c); c
        }
        val (fp, bands) = tr.span("operators.ledger_read_s") {
          val l = DedupLedger.read(spark, p.ledger, p.n, p.numHashes, p.rowsPerBand)
          noop(l._1); noop(l._2); l
        }
        tr.value("operators.ledger_partitions", DedupLedger.ingestLabels(spark, p.ledger).size)
        tr.span("operators.dedup_screen_s") {
          noop(Dedup.incrementalDedupLedgered(corpus, fp, bands, spark.read.parquet(p.batch),
            p.idCol, p.textCol, p.n, p.numHashes, p.rowsPerBand, p.threshold,
            ledgerBuckets = DedupLedger.bucketsOf(p.ledger)))
        }
        spark.catalog.clearCache()
      })
  }

  def storedRatio(r: Int): Double = {
    val state = roundState(r).resolve(s"cycle-$CyclesPerRound")
    ratio(Seq(state.resolve("corpus"), state.resolve("ledger")), bootBytes + batch.bytes)
  }

  def cleanup(r: Int): Unit = { Io.deleteTree(roundState(r)); Io.deleteTree(pre) }
}

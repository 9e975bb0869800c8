package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{Metrics, Resamplers, TrainHarness}
import graft.pipeline.MimicPipeline
import graft.sources.MimicSynth

/** The reference's modelling half (cells 34-66) on the 45,059 x 3,019
  * matrix: undersample, 5-fold x 4-C L1-LR grid, final fit, RF-300,
  * SMOTE, metrics. Set-up builds the matrix the way the data-prep half
  * does (generate the four MIMIC tables, label the cohort, assemble) and
  * ranks the features by mutual information, each as its own span (the
  * untraced run builds the matrix only). The generator has fixed salts,
  * so set-up is the same for every seed; the seed feeds the resampler,
  * CV, RF and SMOTE seeds.
  */
final class ReadmitTrain(seed: Long, traced: Boolean) extends Workload {
  // golden figures (BASELINE.md: the reference's 45,059 x 3,019 feature table and its split)
  private val Width = 3019
  private val TrainRows = 36047L
  private val TestRows = 9012L
  // (rows, checksum) of the generated tables and of the matrix per split;
  // the generator's salts are fixed, so these never change
  private val GoldenTables = Map("admissions" -> (58976L, 29542859123459L),
    "diagnoses" -> (647382L, 323496349897863L), "patients" -> (46161L, 23115959081109L),
    "notes" -> (73259L, 36617664456425L))
  private val GoldenMatrix = Map("train" -> (TrainRows, 18059502839672L), "test" -> (TestRows, 4424174189033L))
  // the reference's GridSearchCV grid; lambda = 1/(n*C) in MLlib's parameterization
  private val CGrid = Seq(0.01, 0.1, 1.0, 10.0)
  // the grid only ranks the four C values (the final fit runs MLlib's
  // default 50 iterations); 5 iterations pick the same C as 25
  private val CvMaxIter = 5

  private var rows = Map.empty[String, Long]
  override def rowsOut: Map[String, Long] = rows

  /** Order-independent checksum of the rows' hash over `cols`. */
  private def checksum(cols: Column*): Column =
    coalesce(sum(pmod(xxhash64(cols: _*), lit(1000000007L))), lit(0L))

  /** Evaluates every column of `df` (a hash over all of them, so no column
    * is pruned) and returns (rows, checksum).
    */
  private def materialize(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), checksum(df.columns.toIndexedSeq.map(col): _*)).head()
    (r.getLong(0), r.getLong(1))
  }

  private def generate(s: SparkSession): Seq[(String, Long, Long)] =
    Seq("admissions" -> MimicSynth.admissionsAt(s, 1L), "diagnoses" -> MimicSynth.diagnosesAt(s, 1L),
      "patients" -> MimicSynth.patientsAt(s, 1L), "notes" -> MimicSynth.notesAt(s, 1L))
      .map { case (t, df) => val (n, h) = materialize(df); (t, n, h) }

  /** Rows per split of the labelled cohort, with a checksum of its rows. */
  private def cohort(s: SparkSession): Map[String, (Long, Long)] =
    MimicSynth.modelingRowsAt(s, 1L)
      .groupBy("split")
      .agg(count(lit(1)), checksum(col("HADM_ID"), col("SUBJECT_ID"), col("label")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private var m: DataFrame = _

  override def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    // the traced run also times the data-prep layers the matrix is built
    // from, each on its own; the untraced run builds the matrix only
    if (traced) {
      val gen = ctx.tracer.span("sources.generate")(generate(s))
      rows += "sources.generate" -> gen.map(_._2).sum
      gen.foreach { case (t, n, h) =>
        ctx.check(s"generate.$t", (n, h) == GoldenTables(t), s"rows=$n checksum=$h, golden ${GoldenTables(t)}")
      }
      val coh = ctx.tracer.span("ops.cohort")(cohort(s))
      rows += "ops.cohort" -> coh.values.map(_._1).sum
      ctx.check("cohort.split", coh.view.mapValues(_._1).toMap == Map("train" -> TrainRows, "test" -> TestRows),
        s"$coh (golden $TrainRows/$TestRows)")
    }

    m = ctx.tracer.span("pipeline.matrix")(MimicPipeline.assembledAt(s, 1L))
    val splits = m.groupBy("split").agg(count(lit(1)), checksum(col("id"), col("label"), col("features")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val width = m.select("features").head().getAs[org.apache.spark.ml.linalg.Vector](0).size
    rows += "pipeline.matrix" -> splits.values.map(_._1).sum
    ctx.check("matrix", width == Width && splits == GoldenMatrix,
      s"width=$width splits=$splits (golden $Width, $GoldenMatrix)")

    if (traced) {
      // miRanking materializes its intermediate frames while it builds the
      // plan, so building and collecting are both inside the span
      val (mi, schema) = ctx.tracer.span("pipeline.mi_rank") {
        val ranking = MimicPipeline.miRanking(s)
        (ranking.collect(), ranking.schema)
      }
      rows += "pipeline.mi_rank" -> mi.length.toLong
      ctx.check("mi_rank.features", mi.length == Width, s"ranked ${mi.length} features")
      // compared with the mimic_feature_select oracle after the run
      s.createDataFrame(java.util.Arrays.asList(mi.filter(_.getLong(0) <= 2900): _*), schema)
        .write.mode("overwrite").parquet(s"${ctx.outDir}/results/mimic_feature_select")
    }
  }

  override def teardown(ctx: Ctx): Unit = m.unpersist(true)

  override def round(ctx: Ctx): Unit = {
    val train = m.filter(col("split") === "train").select("id", "features", "label")
    val test = m.filter(col("split") === "test").select("id", "features", "label")
    // as TrainHarness.resamplerBenchmark prepares each resampled train
    val (fit, n) = ctx.op("ml.resample") {
      val raw = Resamplers.randomUndersample(train, "label", seed).select("features", "label").cache()
      val n = raw.count()
      val fit = TrainHarness.compactForFit(raw, n).cache()
      fit.count()
      raw.unpersist()
      (fit, n)
    }
    rows += "ml.resample" -> n
    val (bestReg, cvAcc) = ctx.op("ml.cv_grid")(
      TrainHarness.gridSearchLr(fit, "features", "label", CGrid.map(c => 1.0 / (n * c)), 5, seed, CvMaxIter, 8))
    val lr = ctx.op("ml.fit_lr") {
      val sc = TrainHarness.logisticL1Margins(fit, test, "features", "label", bestReg).cache()
      sc.count(); sc
    }
    val rf = ctx.op("ml.fit_rf") {
      val sc = TrainHarness.randomForestScores(fit, test, "features", "label", 300, seed).cache()
      sc.count(); sc
    }
    val sm = ctx.op("ml.smote") {
      val sm = Resamplers.smote(train, "id", "label", "features", seed, 6.0, 5, 12.0).cache()
      sm.count(); sm
    }
    ctx.probe {
      val byLabel = sm.groupBy("label").count().collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      val (pos, neg) = (byLabel.getOrElse(1.0, 0L), byLabel.getOrElse(0.0, 0L))
      rows += "ml.smote" -> (pos + neg)
      // SMOTE tops the minority up towards the majority's size
      ctx.check("smote.balance", pos > 0.8 * neg && pos < 1.2 * neg && pos + neg > TrainRows,
        s"rows=${pos + neg} minority=$pos majority=$neg")
      ctx.heapProbe() // the matrix, the resampled train, both score sets and SMOTE's output are live
      sm.unpersist(true)
    }
    // the two models are evaluated one after the other, as two ops
    val (lrAuc, lrPred, lrPr, lrM) = ctx.op("ml.metrics") {
      (Metrics.aucRoc(lr, "score", "label"), Metrics.aucRocFromPredictions(lr, "score", "label"),
        Metrics.aucPrReordered(lr, "margin", "label"),
        Metrics.thresholdMetrics(lr, "score", "label", 0.5).collect()(0))
    }
    val (rfAuc, rfM) = ctx.op("ml.metrics") {
      (Metrics.aucRoc(rf, "score", "label"), Metrics.thresholdMetrics(rf, "score", "label", 0.5).collect()(0))
    }
    ctx.probe {
      val bestC = 1.0 / (n * bestReg)
      val lrAcc = lrM.getAs[Double]("accuracy")
      val rfAcc = rfM.getAs[Double]("accuracy")
      // MimicTrainSpec's bands for the undersampled L1-LR (predicted AUC,
      // ranking AUC) and RF-300; accuracy must stay clear of both trivial
      // predictors (all-negative ~0.93, all-positive ~0.07)
      ctx.check("lr.auc", lrPred > 0.58 && lrPred < 0.72 && lrAuc > 0.55 && lrAuc < 0.80,
        f"predicted-auc=$lrPred%.4f auc=$lrAuc%.4f auc_pr=$lrPr%.4f best_c=$bestC cv_acc=$cvAcc%.4f")
      ctx.check("lr.accuracy", lrAcc > 0.5 && lrAcc < 0.85, f"accuracy=$lrAcc%.4f")
      ctx.check("rf.auc", rfAuc > 0.55 && rfAuc < 0.75, f"auc=$rfAuc%.4f")
      ctx.check("rf.accuracy", rfAcc > 0.5 && rfAcc < 0.85, f"accuracy=$rfAcc%.4f")
      Seq(lr, rf, fit).foreach(_.unpersist(true))
    }
  }
}

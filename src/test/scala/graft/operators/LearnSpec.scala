package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** In-engine trainer laws (x197/x198/x201/x203/x204 — Learn.scala):
  *
  *  - the OLS probe satisfies the textbook identities — residuals
  *    orthogonal to every regressor (Σe = Σe·x1 = Σe·x2 = 0 up to
  *    float tolerance), which no wrong solve passes, and R² high on
  *    this corpus (n_chars is near-affine in token count);
  *  - the perceptron's CENTERING is load-bearing: centered features
  *    reach ≥95 % train accuracy in 3 epochs while the uncentered
  *    variant oscillates at/below the majority rate — the
  *    conditioning lesson that made raw full-batch updates unusable,
  *    pinned so nobody "simplifies" the centering away;
  *  - both trainers' outputs are invariant to input partitioning
  *    (map-side-combined sums / broadcast updates only).
  */
class LearnSpec extends SparkSuite {
  lazy val docs = Tables(spark, "/root/testdata/sf0.01").documents

  private val tokExpr = "length(text) - length(replace(text, ' ', '')) + 1"
  private val theExpr =
    "(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ' '))) / 4"

  test("x197 OLS: residuals orthogonal to regressors, R2 > 0.9") {
    val fit = Learn.linearProbe(docs,
      y = col("n_chars"), x1 = expr(tokExpr), x2 = expr(theExpr)).head()
    val (b0, b1, b2, r2) =
      (fit.getDouble(1), fit.getDouble(2), fit.getDouble(3), fit.getDouble(4))
    assert(r2 > 0.9, s"r2 = $r2")
    val resid = docs.select(
      (col("n_chars").cast("double") - (lit(b0) +
        lit(b1) * expr(tokExpr).cast("double") +
        lit(b2) * expr(theExpr).cast("double"))).as("e"),
      expr(tokExpr).cast("double").as("x1"),
      expr(theExpr).cast("double").as("x2"))
      .agg(sum(col("e")).as("se"),
        sum(col("e") * col("x1")).as("se1"),
        sum(col("e") * col("x2")).as("se2"),
        sum(abs(col("e"))).as("sae"))
      .head()
    // normal-equation identities; tolerance scaled to the corpus sums
    val tol = math.max(1e-4 * resid.getDouble(3), 1e-6)
    assert(math.abs(resid.getDouble(0)) < tol)
    assert(math.abs(resid.getDouble(1)) < tol * 1e3)
    assert(math.abs(resid.getDouble(2)) < tol * 1e2)
  }

  test("x198 perceptron: centered trains >= 0.95; uncentered oscillates") {
    val label = when(col("n_chars") >= 300, 1L).otherwise(-1L)
    val centered = Learn.perceptronGate(docs, label,
      expr(tokExpr), expr(theExpr), epochs = 3).head()
    assert(centered.getDouble(5) >= 0.95,
      s"centered accuracy = ${centered.getDouble(5)}")

    // the uncentered strawman: same law, centering skipped by shifting
    // features so the integer-div means are 0... instead replay the raw
    // update loop locally to show it stalls at/below the majority rate
    val rows = docs.selectExpr(
      s"CAST($tokExpr AS BIGINT)", s"CAST($theExpr AS BIGINT)",
      "CASE WHEN n_chars >= 300 THEN 1L ELSE -1L END").collect()
      .map(r => (Array(1L, r.getLong(0), r.getLong(1)), r.getLong(2)))
    var w = Array(0L, 0L, 0L)
    (1 to 3).foreach { _ =>
      val upd = Array(0L, 0L, 0L)
      rows.foreach { case (x, y) =>
        val m = y * (w(0) * x(0) + w(1) * x(1) + w(2) * x(2))
        if (m <= 0) (0 to 2).foreach(i => upd(i) += y * x(i))
      }
      w = Array(w(0) + upd(0), w(1) + upd(1), w(2) + upd(2))
    }
    val accRaw = rows.count { case (x, y) =>
      y * (w(0) * x(0) + w(1) * x(1) + w(2) * x(2)) > 0
    }.toDouble / rows.length
    val majority = math.max(
      rows.count(_._2 > 0), rows.count(_._2 < 0)).toDouble / rows.length
    assert(accRaw <= majority,
      s"uncentered no longer oscillates (acc $accRaw vs majority $majority) " +
        "— revisit whether centering is still load-bearing")
    assert(centered.getDouble(5) > accRaw + 0.3)
  }

  test("x201 naive Bayes: beats majority by a wide margin; confusion is consistent") {
    val r = Learn.naiveBayesGate(docs, "doc_id", "text",
      label = col("n_chars") >= 300).head()
    val (nTrain, nTest) = (r.getLong(0), r.getLong(1))
    val (tp, fp, tn, fn) = (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
    val acc = r.getDouble(7)
    assert(nTrain + nTest === docs.count())
    assert(tp + fp + tn + fn === nTest)
    assert(acc === (tp + tn).toDouble / nTest)
    val test = docs.filter(col("doc_id") % 2 === 1)
    val majority = {
      val pos = test.filter(col("n_chars") >= 300).count()
      math.max(pos, test.count() - pos).toDouble / test.count()
    }
    assert(acc > majority + 0.2, s"acc $acc vs majority $majority")
    assert(tp + fn === test.filter(col("n_chars") >= 300).count())
  }

  test("x197 plan shape: training is ONE scan (map-side-combined stats)") {
    import org.apache.spark.sql.execution.ExplainMode
    val plan = Learn.linearProbe(docs,
      col("n_chars"), expr(tokExpr), expr(theExpr))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.split("\n").count(_.matches("\\(\\d+\\) Scan parquet.*")) === 1)
    assert(!plan.contains("CartesianProduct"))
  }

  test("x203 one-scan CV == direct refit per fold (betas bit-exact, MSE vs residuals)") {
    val cv = Learn.linearProbeCv(docs,
      col("n_chars"), expr(tokExpr), expr(theExpr),
      foldOf = col("doc_id") % 5)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
      .toMap
    assert(cv.keySet === Set(0L, 1L, 2L, 3L, 4L))
    for (f <- 0L to 4L) {
      // betas from the subtraction trick == betas from an actual refit
      // on the complement (both solve from the same exact decimal sums,
      // so they must agree bit-for-bit)
      val direct = Learn.linearProbe(docs.filter(col("doc_id") % 5 =!= f),
        col("n_chars"), expr(tokExpr), expr(theExpr)).head()
      assert(cv(f)._1 === direct.getDouble(1), s"fold $f beta0")
      assert(cv(f)._2 === direct.getDouble(2), s"fold $f beta1")
      assert(cv(f)._3 === direct.getDouble(3), s"fold $f beta2")
      // moment-expanded MSE ≈ per-row residual MSE (different float
      // association order, so tolerance not bit-equality)
      val (b0, b1, b2, mse) = cv(f)
      val direct_mse = docs.filter(col("doc_id") % 5 === f)
        .select((col("n_chars").cast("double") - (lit(b0) +
          lit(b1) * expr(tokExpr).cast("double") +
          lit(b2) * expr(theExpr).cast("double"))).as("e"))
        .agg(sum(col("e") * col("e")) / count(lit(1))).head().getDouble(0)
      assert(math.abs(mse - direct_mse) < 1e-6 * math.max(1.0, direct_mse),
        s"fold $f mse $mse vs $direct_mse")
    }
  }

  test("x204 vocab cap: K-bounded model, accuracy within 0.1 of uncapped") {
    val label = col("n_chars") >= 300
    val full = Learn.naiveBayesGate(docs, "doc_id", "text", label).head()
    val capped =
      Learn.naiveBayesGateCapped(docs, "doc_id", "text", label, vocabK = 16)
        .head()
    assert(capped.getLong(2) === 16L, "capped vocab_size must be exactly K")
    // the weight table is K·classes rows by construction — the bound
    // that makes the broadcast safe at any corpus vocabulary
    val tr = docs.filter(col("doc_id") % 2 === 0).select(
      col("doc_id"), col("text"), label.as("y"))
    val (wt, _, _) = Learn.nbModelCapped(tr, vocabK = 16)
    assert(wt.count() === 32L)
    // statistical cost of the cap on this fixture: bounded, and the
    // capped gate still beats majority (~0.56 on the odd half)
    val delta = math.abs(full.getDouble(7) - capped.getDouble(7))
    assert(delta <= 0.1,
      s"cap cost $delta (full ${full.getDouble(7)}, capped ${capped.getDouble(7)})")
    assert(capped.getDouble(7) > 0.7)
  }

  test("nbPredict: single-class model coalesces to the only class (no NULL verdicts)") {
    // positive-only training corpus: every scored doc must predict true
    val tr = docs.filter(col("n_chars") >= 300)
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"), lit(true).as("y"))
    val (wt, classes, _) = Learn.nbModel(tr)
    val te = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
    val preds = Learn.nbPredict(te, wt, classes)
    assert(preds.filter(col("pred").isNull).count() === 0L)
    assert(preds.filter(!col("pred")).count() === 0L)
    assert(preds.count() === te.count())
  }

  test("x206 ridge: lambda=0 == OLS (betas bit-exact); slopes shrink monotonically in lambda") {
    val ols = Learn.linearProbe(docs,
      col("n_chars"), expr(tokExpr), expr(theExpr)).head()
    val r0 = Learn.ridgeProbe(docs,
      col("n_chars"), expr(tokExpr), expr(theExpr), lambdaPerRow = 0L).head()
    // identical Cramer text up to +0.0 on the non-negative diagonal sums
    assert(r0.getDouble(2) === ols.getDouble(1), "beta0 at lambda=0")
    assert(r0.getDouble(3) === ols.getDouble(2), "beta1 at lambda=0")
    assert(r0.getDouble(4) === ols.getDouble(3), "beta2 at lambda=0")
    // full-quadratic R2 == orthogonality-shortcut R2 for exact OLS betas
    assert(math.abs(r0.getDouble(5) - ols.getDouble(4)) < 1e-9)

    // slope L2 norm shrinks monotonically as lambda grows; fit degrades
    val norms = Seq(0L, 1000L, 10000L, 100000L).map { l =>
      val r = Learn.ridgeProbe(docs,
        col("n_chars"), expr(tokExpr), expr(theExpr), lambdaPerRow = l).head()
      val nrm = math.hypot(r.getDouble(3), r.getDouble(4))
      (nrm, r.getDouble(5))
    }
    norms.sliding(2).foreach { case Seq((n1, r21), (n2, r22)) =>
      assert(n2 < n1, s"slope norm must shrink: $norms")
      assert(r22 <= r21 + 1e-12, s"in-sample R2 cannot improve under ridge: $norms")
    }
  }

  test("trainers are partitioning-invariant") {
    val label = when(col("n_chars") >= 300, 1L).otherwise(-1L)
    def probe(df: org.apache.spark.sql.DataFrame) =
      Learn.linearProbe(df, col("n_chars"), expr(tokExpr), expr(theExpr))
        .collect().toSeq
    def gate(df: org.apache.spark.sql.DataFrame) =
      Learn.perceptronGate(df, label, expr(tokExpr), expr(theExpr), 3)
        .collect().toSeq
    assert(probe(docs) === probe(docs.repartition(13, col("source"))))
    assert(gate(docs) === gate(docs.repartition(13, col("source"))))
  }

  test("x207 logistic: beats majority, within the classifier family's band, partitioning-invariant") {
    val label01 = when(col("n_chars") >= 300, 1L).otherwise(0L)
    def logit(df: org.apache.spark.sql.DataFrame) =
      Learn.logisticProbe(df, label01, expr(tokExpr), expr(theExpr), iters = 2)
    val row = logit(docs).head()
    val n = row.getAs[Long]("n_docs")
    val acc = row.getAs[Double]("accuracy")
    val majority = {
      val pos = docs.filter(col("n_chars") >= 300).count()
      math.max(pos, n - pos).toDouble / n
    }
    assert(acc > majority + 0.05,
      s"logistic accuracy $acc must clearly beat the majority rate $majority")

    // family comparison on the SHARED fixture/gate: two Newton steps
    // should land in the same band as the 3-epoch perceptron (both
    // discriminative linear models on identical features) — within
    // 3 points, and both at/above the NB generative baseline's level
    val perc = Learn.perceptronGate(docs,
      when(col("n_chars") >= 300, 1L).otherwise(-1L),
      expr(tokExpr), expr(theExpr), 3).head().getAs[Double]("accuracy")
    assert(math.abs(acc - perc) < 0.03,
      s"logistic $acc vs perceptron $perc: same features, same gate — " +
        "a gap past 3 points means one trainer is broken")

    // exact-decimal moments + shared solve text ⇒ bit-identical betas
    // under any partitioning
    val a = logit(docs).collect().toSeq
    val b = logit(docs.repartition(13, col("source"))).collect().toSeq
    assert(a === b, "logistic probe must be partitioning-invariant")
  }

  test("x209 grouped logistic: one fit per source, each beats its group majority, invariant") {
    val label01 = when(col("n_chars") >= 300, 1L).otherwise(0L)
    def fit(df: org.apache.spark.sql.DataFrame) =
      Learn.logisticProbeHistBy(df, col("source"), label01,
        expr(tokExpr), expr(theExpr), iters = 2)
    val rows = fit(docs).collect()
    val nSources = docs.select("source").distinct().count()
    assert(rows.length.toLong === nSources, "one fit row per source")
    // every per-source gate must beat ITS OWN majority rate (weaker
    // per group than globally — small groups — so require +0.02)
    val majority = docs
      .groupBy(col("source"))
      .agg((greatest(
        sum(when(col("n_chars") >= 300, 1L).otherwise(0L)),
        sum(when(col("n_chars") >= 300, 0L).otherwise(1L))).cast("double") /
        count(lit(1))).as("maj"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val (src, acc) = (r.getString(0), r.getAs[Double]("accuracy"))
      assert(acc > majority(src) + 0.02,
        s"source $src: accuracy $acc vs majority ${majority(src)}")
    }
    // partitioning invariance (exact moments, broadcast beta table)
    val a = fit(docs).collect().map(_.toString).sorted.toSeq
    val b = fit(docs.repartition(13, col("doc_id"))).collect()
      .map(_.toString).sorted.toSeq
    assert(a === b)

    // degenerate-group guard: a single-doc source must yield a defined
    // row (det-gated delta keeps beta = 0), never NaN
    val tiny = docs.limit(1).withColumn("source", lit("__singleton"))
    val one = fit(docs.unionByName(tiny))
      .filter(col("key") === "__singleton").head()
    for (c <- Seq("beta0", "beta1", "beta2"))
      assert(!one.getAs[Double](c).isNaN, s"$c must not be NaN for a degenerate group")
    assert(one.getAs[Long]("n_docs") === 1L)
  }
}

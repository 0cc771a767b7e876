package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Quality-classifier TRAINING — the step upstream of
  * [[Classify.scoreHashedLinear]]'s inference pass in a public
  * curation pipeline (CCNet/DCLM/FineWeb train a quality model on a
  * labeled sample, then score the corpus). The reference has no
  * counterpart; this owns the distributed-regression shape.
  *
  * The model is ridge-regularized least squares over INTEGER-VALUED
  * document features (counts: tokens, stopword occurrences, symbol
  * chars …) fit by the normal equations. The 100 TB shape: ONE
  * map-side-combined aggregate reduces the corpus to the d(d+1)/2 + d
  * moment sums (a single row — the only data that reaches the driver),
  * and the d×d solve happens driver-side in exact BigInt arithmetic
  * via Cramer's rule. No iteration, no per-row weight traffic, no
  * second corpus pass.
  *
  * Exactness contract: features and label are integers, so every
  * moment is an exact Long sum and every weight is an exact rational
  * det(Aᵢ)/det(A) — reproducible bit for bit by an ANSI-SQL oracle
  * that mirrors the same moments and the same cofactor expansion in
  * 128-bit integers. Weights are REPORTED as the unreduced
  * (numerator, denominator) pair precisely so no engine-specific
  * float division ever enters the gated result.
  *
  * Bounds: per-row products xᵢxⱼ are Long (exact while |xᵢxⱼ| < 2^63)
  * and moment sums accumulate in DECIMAL(38,0), so an out-of-range
  * corpus fails loudly instead of wrapping silently (Spark's default
  * non-ANSI long sum wraps). Cramer determinants are BigInt (no bound);
  * the DataFrame form emits the rationals as exact DECIMAL STRINGS —
  * the one type every consumer (parquet, arrow, an ANSI oracle's
  * CAST(... AS VARCHAR)) round-trips without coercion — and fails
  * loudly past 127 bits (the 128-bit-integer oracle-mirror bound)
  * rather than wrapping.
  */
object Train {

  /** An exact ridge fit: `weight(i) = num(i) / den` as unreduced
    * BigInt rationals (den = det of the regularized normal matrix,
    * identical for every coefficient). `weights` derives doubles for
    * plain consumption. */
  final case class RidgeFit(features: Seq[String], num: Seq[BigInt], den: BigInt) {
    require(den != BigInt(0),
      "singular normal matrix — features are linearly dependent " +
        "(add ridge lambda > 0 or drop a feature)")
    def weights: Seq[Double] = {
      val mc = java.math.MathContext.DECIMAL128
      num.map(n => (BigDecimal(n, mc) / BigDecimal(den, mc)).toDouble)
    }
  }

  /** Fit `label ~ intercept + features` by exact ridge least squares.
    *
    * @param features (name, integer-valued column) pairs; an intercept
    *                 ("intercept", 1) is prepended automatically
    * @param label    integer-valued target (0/1 for a quality
    *                 classifier; any bounded int regression target)
    * @param lambda   ridge penalty added to the non-intercept diagonal
    *                 of the normal matrix (same integer units as the
    *                 moments; 0 = plain OLS)
    */
  def ridgeFitExact(
      df: DataFrame,
      features: Seq[(String, Column)],
      label: Column,
      lambda: Long = 0L): RidgeFit = {
    require(features.nonEmpty, "at least one feature")
    require(features.size <= 7,
      s"${features.size} features — the exact Cramer solve is " +
        "factorial in d; hash wide feature sets down first")
    require(lambda >= 0L, "ridge lambda must be non-negative")
    val names = "intercept" +: features.map(_._1)
    val xs: Seq[Column] = lit(1L) +: features.map(_._2.cast("long"))
    val y = label.cast("long")
    val d = xs.size
    // one row: the normal-equation moments S_ij = Σ x_i x_j (i ≤ j,
    // symmetric) and b_i = Σ x_i y — map-side combined, corpus never
    // moves
    // accumulate in DECIMAL(38,0), not LongType: under Spark's default
    // non-ANSI mode a long sum overflow wraps silently, which would
    // corrupt the "exact" moments; decimal overflow nulls out instead
    // and is caught by the empty/overflow require below
    val dec38 = DecimalType(38, 0)
    val sCols = for (i <- 0 until d; j <- i until d)
      yield sum((xs(i) * xs(j)).cast(dec38)).as(s"s_${i}_$j")
    val bCols = (0 until d).map(i => sum((xs(i) * y).cast(dec38)).as(s"b_$i"))
    val row = df.agg((sCols ++ bCols).head, (sCols ++ bCols).tail: _*)
      .collect()(0)
    require(!row.isNullAt(0),
      "ridgeFitExact: null moment sum — cannot fit on an empty corpus " +
        "(or a DECIMAL(38,0) moment overflowed; pre-scale the features)")
    def mom(idx: Int): BigInt = {
      require(!row.isNullAt(idx),
        s"ridgeFitExact: moment $idx overflowed DECIMAL(38,0) — " +
          "pre-scale the features")
      BigInt(row.getDecimal(idx).toBigInteger)
    }
    var k = -1
    val a = Array.ofDim[BigInt](d, d)
    for (i <- 0 until d; j <- i until d) {
      k += 1
      val v = mom(k)
      a(i)(j) = v
      a(j)(i) = v
    }
    for (i <- 1 until d) a(i)(i) += BigInt(lambda)
    val b = (0 until d).map(i => mom(k + 1 + i)).toArray
    val den = det(a)
    val num = (0 until d).map { i =>
      det(Array.tabulate(d, d)((r, c) => if (c == i) b(r) else a(r)(c)))
    }
    RidgeFit(names, num, den)
  }

  /** [[ridgeFitExact]] as a DataFrame: one row per coefficient,
    * (feature, w_num STRING, w_den STRING) — the exact unreduced
    * rationals as decimal strings. STRING (not DECIMAL) because it is
    * the one hash-stable exact type: parquet decimal reads back as a
    * scaled-integer logical type while a live SQL oracle's decimal
    * result coerces to float in most arrow bridges, so equal VALUES
    * hash differently; the decimal-digit string round-trips
    * identically everywhere and keeps the no-float-division
    * contract. */
  def ridgeFitDf(
      df: DataFrame,
      features: Seq[(String, Column)],
      label: Column,
      lambda: Long = 0L): DataFrame = {
    val fit = ridgeFitExact(df, features, label, lambda)
    def str(v: BigInt): String = {
      require(v.bitLength <= 127,
        s"Cramer determinant $v exceeds 128-bit signed range — the " +
          "ANSI oracle mirror computes in 128-bit integers; pre-scale " +
          "the features")
      v.toString
    }
    val schema = StructType(Seq(
      StructField("feature", StringType, nullable = false),
      StructField("w_num", StringType, nullable = false),
      StructField("w_den", StringType, nullable = false)))
    val rows = fit.features.zip(fit.num).map { case (n, v) =>
      Row(n, str(v), str(fit.den))
    }
    val spark = df.sparkSession
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Score a fit over a corpus: ŷ = Σ wᵢ xᵢ as a double column —
    * map-only (the weights ride as literals), the inference twin of
    * the train pass. Feature columns must line up with the fit's
    * non-intercept features, in order. */
  def scoreRidge(fit: RidgeFit, features: Seq[Column]): Column = {
    require(features.size == fit.features.size - 1,
      s"fit has ${fit.features.size - 1} features, got ${features.size}")
    val w = fit.weights
    features.zip(w.tail).map { case (c, wi) => c.cast("double") * wi }
      .foldLeft(lit(w.head))(_ + _)
  }

  /** EXACT per-row score numerator: ŷ = scoreNum / den where
    * scoreNum = num₀ + Σ numᵢ₊₁·xᵢ — pure integer arithmetic in
    * DECIMAL(38,0), map-only (the Cramer numerators ride as decimal
    * literals). Unlike [[scoreRidge]]'s double form, this is
    * oracle-comparable bit for bit and supports exact threshold
    * selection: score ≥ t/u ⇔ u·scoreNum ≥ t·den (den > 0 — the
    * regularized normal matrix is positive-definite whenever it is
    * nonsingular, enforced here). */
  def scoreRidgeExactNum(fit: RidgeFit, features: Seq[Column]): Column = {
    require(features.size == fit.features.size - 1,
      s"fit has ${fit.features.size - 1} features, got ${features.size}")
    require(fit.den.signum > 0,
      "ridge normal-matrix determinant must be positive (PSD Gram + " +
        "ridge diagonal) — a negative den means corrupted moments")
    val dec38 = DecimalType(38, 0)
    def l(v: BigInt): Column =
      lit(new java.math.BigDecimal(v.bigInteger)).cast(dec38)
    features.zip(fit.num.tail)
      .map { case (c, ni) => l(ni) * c.cast("long") }
      .foldLeft(l(fit.num.head))(_ + _)
      .cast(dec38)
  }

  /** Exact threshold-selection predicate: score ≥ threshNum/threshDen
    * with no float division on either side (threshDen > 0). */
  def ridgeKeep(
      fit: RidgeFit,
      features: Seq[Column],
      threshNum: Long,
      threshDen: Long): Column = {
    require(threshDen > 0, "threshold denominator must be positive")
    scoreRidgeExactNum(fit, features) * threshDen >=
      lit(new java.math.BigDecimal((fit.den * threshNum).bigInteger))
        .cast(DecimalType(38, 0))
  }

  /** Exact AUC (Mann-Whitney with tie-averaged ranks) of a score
    * column against a binary label — the classifier-eval closer of the
    * train→score loop. All arithmetic is integer until ONE final
    * division: group by DISTINCT score value (ties collapse), a window
    * cumsum of negatives below each score, then
    * 2·U = Σ_s p_s·(2·negBelow(s) + n_s) and AUC = 2U / (2·P·N) —
    * so the result is bit-deterministic and oracle-comparable (the
    * division is one IEEE op over exact integers, rounded to 6).
    *
    * Scale note (r17, guide §2 — VERDICT r16 §4): the negatives-below
    * cumsum runs through the distributed prefix-sum decomposition
    * ([[graft.stats.GlobalOrder.exclusivePrefixReleasable]]): for CONTINUOUS
    * scores the distinct-score table is row-sized, and the former
    * `Window.orderBy` funnelled it through one task ("Moving all data
    * to a single partition"). Range-partitioned partials + a
    * partition-local window keep every task bounded; the per-row work
    * stays one map-side-combined groupBy. Returns one row:
    * (n_pos, n_neg, auc). */
  def aucExact(df: DataFrame, score: Column, label: Column): DataFrame = {
    val g = df.select(label.cast("long").as("__y"), score.as("__s"))
      .groupBy("__s").agg(
        sum(col("__y")).as("__p"),
        sum(lit(1L) - col("__y")).as("__n"))
    // exclusive prefix of __n under the __s order ≡ the former
    // "negatives strictly below this score" window (keys unique after
    // the groupBy, so the order is total)
    val (withCum, _, _) = graft.stats.GlobalOrder.exclusivePrefixReleasable(
      g, Seq(col("__s")), col("__n"), "__cumn")
    withCum
      .agg(
        sum("__p").as("n_pos"),
        sum("__n").as("n_neg"),
        sum(col("__p") * (col("__cumn") * 2 + col("__n"))).as("__u2"))
      .select(col("n_pos"), col("n_neg"),
        round(col("__u2").cast("double") /
          (col("n_pos") * col("n_neg") * 2).cast("double"), 6).as("auc"))
  }

  /** Exact determinant by Laplace expansion over the first row —
    * factorial, fine for the d ≤ 8 this module admits. */
  private def det(m: Array[Array[BigInt]]): BigInt = {
    val n = m.length
    if (n == 1) m(0)(0)
    else if (n == 2) m(0)(0) * m(1)(1) - m(0)(1) * m(1)(0)
    else (0 until n).foldLeft(BigInt(0)) { (acc, j) =>
      val minor = Array.tabulate(n - 1, n - 1)((r, c) =>
        m(r + 1)(if (c < j) c else c + 1))
      val term = m(0)(j) * det(minor)
      if (j % 2 == 0) acc + term else acc - term
    }
  }
}

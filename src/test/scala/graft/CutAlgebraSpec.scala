package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._
import graft.cuts.MasterCuts

/** F1-F9 cut algebra: boolean-algebra laws, register→apply ≡ filter,
  * global-filter identities (SURVEY §5.4). */
class CutAlgebraSpec extends SparkSpec {
  import spark.implicits._

  test("bloom-prefiltered mask semi-join equals the plain semi-join") {
    import graft.core.Masks
    val events = (0 until 2000).map(i => (i.toLong, i * 0.5))
      .toDF("event_uid", "v")
    val mask = (0 until 2000 by 7).map(Tuple1(_)).map(t => t._1.toLong)
      .toDF("event_uid")
    val viaBloom = Masks.bloomSemiJoin(events, mask, "event_uid",
        expectedItems = 1000)
      .orderBy("event_uid").collect().map(_.getLong(0))
    val plain = events.join(mask, Seq("event_uid"), "left_semi")
      .orderBy("event_uid").collect().map(_.getLong(0))
    assert(viaBloom.toSeq == plain.toSeq)
    // the probe itself: members always pass, and the sketch prunes most
    // non-members before the join
    val bloom = Masks.bloomOfKeys(mask, "event_uid", 1000)
    val passed = events.filter(
      graft.functions.BloomMightContain(col("event_uid"), bloom)).count()
    assert(passed >= plain.length)            // no false negatives
    assert(passed < events.count())           // real pruning happened
  }

  test("bloom anti-join equals the plain anti-join on string keys") {
    import graft.core.Masks
    // string keys with genuine overlap: urls from two small moduli
    def url(i: Int) = s"https://d${i % 5}.example.org/p/${i % 13}"
    val batch = (1 until 400 by 2).map(i => (i.toLong, url(i)))
      .toDF("id", "url")
    val seen = (0 until 400 by 2).map(i => Tuple1(url(i))).toDF("url")
    val viaBloom = Masks.bloomAntiJoin(batch, seen, "url",
        expectedItems = 1000)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    val plain = batch.join(seen, Seq("url"), "left_anti")
      .orderBy("id").collect()
      .map(r => (r.getLong(1), r.getString(0)))
    assert(viaBloom.toSeq == plain.toSeq)
    // empty seen set: everything is novel, nothing joins
    val noneSeen = Seq.empty[Tuple1[String]].toDF("url")
    assert(Masks.bloomAntiJoin(batch, noneSeen, "url", 10).count()
      == batch.count())
  }

  test("salted join and salted agg match their unsalted forms") {
    import graft.core.Skew
    // heavy skew: 90% of rows share key 0
    val big = (0 until 1000)
      .map(i => (if (i < 900) 0L else i.toLong % 7, i.toDouble))
      .toDF("k", "v")
    val small = Seq((0L, "hot"), (1L, "a"), (2L, "b"), (6L, "c"))
      .toDF("k", "name")
    val salted = Skew.saltedJoin(big, small, "k", salts = 8)
      .groupBy("k", "name").agg(sum("v").as("sv"), count(lit(1)).as("c"))
      .orderBy("k").collect()
    val plain = big.join(small, "k")
      .groupBy("k", "name").agg(sum("v").as("sv"), count(lit(1)).as("c"))
      .orderBy("k").collect()
    assert(salted.map(_.toSeq).toSeq == plain.map(_.toSeq).toSeq)

    val sAgg = Skew.saltedAgg(big, Seq("k"), salts = 8,
      Map("total" -> (sum(col("v")), (p: org.apache.spark.sql.Column) => sum(p)),
          "n" -> (count(lit(1)), (p: org.apache.spark.sql.Column) => sum(p))))
      .orderBy("k").collect()
    val pAgg = big.groupBy("k")
      .agg(sum("v").as("total"), count(lit(1)).as("n"))
      .orderBy("k").collect()
    assert(sAgg.map(_.toSeq).toSeq == pAgg.map(_.toSeq).toSeq)
  }

  test("salting degeneracy signal fires on a duplicate-row hot key") {
    import graft.core.Skew
    // hot key 0 made of EXACT duplicate rows: content-derived salt
    // collapses to one value — the shape the diagnostics must flag
    val dupHot = ((0 until 500).map(_ => (0L, 1.0)) ++
      (0 until 100).map(i => (i.toLong % 7 + 1, i.toDouble)))
      .toDF("k", "v")
    val diag = Skew.saltSpreadDiagnostics(dupHot, Seq("k"), salts = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_salts"), r.getAs[Boolean]("degenerate"))).toMap
    assert(diag(0L)._1 == 1L && diag(0L)._2, "hot dup key must be flagged")
    // a diverse hot key spreads and is NOT flagged
    val diverseHot = ((0 until 500).map(i => (0L, i.toDouble)) ++
      (0 until 100).map(i => (i.toLong % 7 + 1, i.toDouble)))
      .toDF("k", "v")
    val diag2 = Skew.saltSpreadDiagnostics(diverseHot, Seq("k"), salts = 8)
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("degenerate"))
      .toMap
    assert(!diag2(0L), "diverse hot key spreads over several salts")
    // the join still computes correctly while warning
    val small = Seq((0L, "hot")).toDF("k", "name")
    assert(Skew.saltedJoin(dupHot, small, "k", salts = 8).count() == 500L)
  }

  private lazy val df = (0 until 200)
    .map(i => (i.toLong, i * 0.5, if (i % 3 == 0) "a" else "b"))
    .toDF("event_uid", "x", "tag")
  private lazy val t = EventTable(df)

  test("filter forms agree: Pred ≡ Sql ≡ Named") {
    val byPred = t.filter(Cut.Pred(col("x") > 30.0)).count()
    val bySql = t.filter(Cut.Sql("x > 30.0")).count()
    val byName = t.registerCut("c", Cut.Pred(col("x") > 30.0))
      .filter(Cut.Named("c")).count()
    assert(byPred == bySql && bySql == byName)
  }

  test("KeyTable cut ≡ isin semi-join, and registration back-projects") {
    val keys = df.filter(col("x") > 80.0).select("event_uid")
    val n1 = t.filter(Cut.KeyTable(keys)).count()
    val n2 = df.filter(col("x") > 80.0).count()
    assert(n1 == n2)
    val reg = t.registerCut("ck", Cut.KeyTable(keys))
    assert(reg.filter(Cut.Named("ck")).count() == n2)
    assert(reg.full.count() == df.count()) // full-length flag column
  }

  test("combine modes obey boolean algebra") {
    val r = t.registerCut("p", Cut.Pred(col("x") > 30.0))
      .registerCut("q", Cut.Pred(col("tag") === "a"))
      .combineCuts("and", Seq("p", "q"), CombineMode.And)
      .combineCuts("or", Seq("p", "q"), CombineMode.Or)
      .combineCuts("xor", Seq("p", "q"), CombineMode.Xor)
      .combineCuts("sub", Seq("p", "q"), CombineMode.Subtract)
      .full.select("p", "q", "and", "or", "xor", "sub").collect()
    r.foreach { row =>
      val (p, q) = (row.getBoolean(0), row.getBoolean(1))
      assert(row.getBoolean(2) == (p && q))
      assert(row.getBoolean(3) == (p || q))
      assert(row.getBoolean(4) == (p ^ q))
      assert(row.getBoolean(5) == (p && !q))
    }
  }

  test("global filter: replace then drop = identity; AND composes") {
    val g = t.applyGlobalFilter(Cut.Pred(col("x") > 50.0))
    assert(g.dropGlobalFilter.view.count() == df.count())
    val g2 = g.applyGlobalFilter(Cut.Pred(col("tag") === "a"), CombineMode.And)
    assert(g2.view.count() ==
      df.filter(col("x") > 50.0 && col("tag") === "a").count())
  }

  test("box cut = conjunction of closed ranges") {
    val n = t.filter(Cut.box(Seq(("x", 10.0, 60.0)))).count()
    assert(n == df.filter(col("x") >= 10.0 && col("x") <= 60.0).count())
  }

  test("version gate skips older plugin, applies newer") {
    val v1 = Plugin.cut("cut_v", 1.0)(_ => col("x") > 10)
    val v2 = Plugin.cut("cut_v", 2.0)(_ => col("x") > 90)
    val t1 = PluginRegistry(v1).applyAll(t)
    val t2 = PluginRegistry(v2).applyAll(t1) // upgrades
    val t3 = PluginRegistry(v1).applyAll(t2) // gated, stays v2
    assert(t3.cutMeta("cut_v").version == 2.0)
    assert(t3.filter(Cut.Named("cut_v")).count() ==
      df.filter(col("x") > 90).count())
  }

  test("saveCurrentSelection freezes the working view as a cut") {
    val g = t.applyGlobalFilter(Cut.Pred(col("x") > 50.0))
      .saveCurrentSelection("cut_sel")
      .dropGlobalFilter
    assert(g.filter(Cut.Named("cut_sel")).count() ==
      df.filter(col("x") > 50.0).count())
    // without a global filter the saved selection is all-true
    assert(t.saveCurrentSelection("cut_all")
      .filter(Cut.Named("cut_all")).count() == df.count())
  }

  test("unit metadata round-trips through parquet") {
    val dir = java.nio.file.Files.createTempDirectory("units").toString
    t.withUnit("x", "amps").full.write.mode("overwrite").parquet(dir)
    val back = EventTable(spark.read.parquet(dir))
    assert(back.unit("x").contains("amps"))
    assert(back.unit("tag").isEmpty)
  }

  test("materialize preserves the working view and folds the filter in") {
    val g = t.applyGlobalFilter(Cut.Pred(col("x") > 50.0))
    val m = g.materialize()
    assert(m.view.count() == g.view.count())
    assert(m.globalFilter.isEmpty) // folded into the persisted frame
    m.full.unpersist()
  }

  test("passage fraction = conditional mean of cut") {
    val f = t.passageFraction(Cut.Pred(col("x") > 50.0),
      Cut.Pred(col("tag") === "a")).head.getDouble(0)
    val manual = {
      val cond = df.filter(col("tag") === "a")
      cond.filter(col("x") > 50.0).count().toDouble / cond.count()
    }
    assert(math.abs(f - manual) < 1e-12)
  }

  /** Nullable cuts `k1`..`k3` and a condition column `c`. */
  private lazy val cutsDf = {
    val rnd = new scala.util.Random(3)
    def b() = if (rnd.nextInt(6) == 0) None else Some(rnd.nextBoolean())
    (0 until 300).map(i => (i % 3, b(), b(), b())).toDF("c", "k1", "k2", "k3")
  }

  /** The `avg(cast double)` formulation A10/A11 had before they became
    * one counting job. */
  private def avgFractions(d: DataFrame, names: Seq[String]): DataFrame = {
    val aggs = for (i <- names.indices; j <- 0 to i) yield avg(
      names.slice(j, i + 1).map(col).reduce(_ && _).cast("double"))
      .as(s"frac_${j}_$i")
    d.agg(aggs.head, aggs.tail: _*)
  }

  test("passage fraction equals avg(cast double): nulls, empty condition") {
    val k = Cut.Pred(col("k1"))
    for ((label, d) <- Seq("6 partitions" -> cutsDf.repartition(6),
        "empty input" -> cutsDf.filter(lit(false)).repartition(6))) {
      for (cond <- Seq(Cut.All, Cut.Pred(col("c") === 1),
          Cut.Pred(col("c") === 7))) {
        val got = EventTable(d).passageFraction(k, cond)
        val want = d.filter(Cut.toColumn(cond))
          .agg(avg(col("k1").cast("double")).as("passage_fraction"))
        assert(got.schema == want.schema, s"$label, $cond: schema")
        assert(got.collect().toSeq == want.collect().toSeq, s"$label, $cond")
      }
    }
    // no row under the condition: the fraction is null, not NaN
    assert(EventTable(cutsDf).passageFraction(k, Cut.Pred(col("c") === 7))
      .head.isNullAt(0))
    val (_, plans, jobs) = tools.Run.capture(spark)(
      EventTable(cutsDf).passageFraction(k, Cut.Pred(col("c") === 1)))
    assert(jobs == 1 && plans.map(_._1) == Seq("counts"),
      s"passageFraction ran $jobs jobs: $plans")
  }

  test("A11 cumulative pass fractions: hand counts, avg formulation, 1 job") {
    val names = Seq("k1", "k2", "k3")
    val cond = col("c") =!= 2
    val got = MasterCuts.cumulativePassFractions(cutsDf.repartition(6),
      names, cond)
    assert(got.columns.toSeq ==
      Seq("frac_0_0", "frac_0_1", "frac_1_1", "frac_0_2", "frac_1_2",
        "frac_2_2"))
    // by hand: three-valued AND of cuts j..i, nulls skipped
    val rows = cutsDf.collect().filter(_.getInt(0) != 2)
      .map(r => (1 to 3).map(i =>
        if (r.isNullAt(i)) None else Some(r.getBoolean(i))))
    val row = got.head()
    for (i <- 0 until 3; j <- 0 to i) {
      val ands = rows.map(r => r.slice(j, i + 1).foldLeft(Option(true)) {
        case (Some(false), _) | (_, Some(false)) => Some(false)
        case (Some(true), v) => v
        case (None, _) => None
      }).flatten
      val want = ands.count(identity).toDouble / ands.length.toDouble
      assert(row.getAs[Double](s"frac_${j}_$i") == want, s"frac_${j}_$i")
    }
    for ((label, d) <- Seq("6 partitions" -> cutsDf.repartition(6),
        "empty condition" -> cutsDf.filter(col("c") === 7))) {
      val out = MasterCuts.cumulativePassFractions(d, names, lit(true))
      val want = avgFractions(d, names)
      assert(out.schema == want.schema, s"$label: schema")
      assert(out.collect().toSeq == want.collect().toSeq, label)
    }
    val (_, plans, jobs) = tools.Run.capture(spark)(
      MasterCuts.cumulativePassFractions(cutsDf, names, cond))
    assert(jobs == 1 && plans.map(_._1) == Seq("counts"),
      s"cumulativePassFractions ran $jobs jobs: $plans")
  }
}

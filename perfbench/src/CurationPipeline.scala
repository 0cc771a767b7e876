package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.llm.{C4, Curate, Dedup, Packing, Spans}

/** `curation_pipeline`: a training-data curation pass — C4 cleaning,
  * MinHash near-duplicate removal, duplicated-span removal, sequence
  * packing and the attrition funnel, with the survivors and the funnel
  * written to parquet. Heavy on text kernels, shuffles and
  * materialization (persist, localCheckpoint), and it writes.
  *
  * Input: documents drawn from a seeded Zipf vocabulary, with planted
  * exact-duplicate clusters, near-duplicate clusters (token edits; about
  * 30% of the documents), shared boilerplate footers, menu lines and
  * low-quality pages. */
object CurationPipeline extends Workload {
  val name = "curation_pipeline"
  val itemName = "docs"

  val Docs = 2000
  val Vocab = 6000
  val ZipfS = 1.1
  val NearShare = 0.30
  val ExactShare = 0.04
  val LowShare = 0.05
  val FooterShare = 0.30
  val MenuShare = 0.20
  val SpanK = 8
  val CtxLen = 1024

  /** A generated document; `cluster` >= 0 groups planted duplicates. */
  final case class Doc(id: Long, text: String, cluster: Int, lowQuality: Boolean)

  final case class Corpus(docs: Seq[Doc], footers: Seq[String])

  /** The corpus for `seed`, built on the driver. Near-duplicate variants
    * edit one token in every third sentence: every three-sentence span of
    * a variant then differs from its base and from the other variants, so
    * C4's span rule leaves the cluster whole and only the MinHash stage can
    * remove it. */
  def corpus(seed: Long): Corpus = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val words = {
      val cons = "bcdfghklmnprstvz"
      val vows = "aeiou"
      val seen = mutable.LinkedHashSet[String]()
      while (seen.size < Vocab)
        seen += Seq.fill(1 + rng.nextInt(4))(
          s"${cons(rng.nextInt(cons.length))}${vows(rng.nextInt(vows.length))}").mkString
      seen.toArray
    }
    val cdf = {
      val w = Array.tabulate(Vocab)(r => math.pow(r + 1.0, -ZipfS))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, Vocab - 1))
    }
    def sentence(): Array[String] = Array.fill(15 + rng.nextInt(8))(word())
    def render(s: Array[String]): String = (s.head.capitalize +: s.tail).mkString(" ") + "."
    type Body = Seq[Seq[Array[String]]] // lines of sentences
    def body(): Body = Seq.fill(6 + rng.nextInt(3))(Seq.fill(2 + rng.nextInt(2))(sentence()))
    def text(b: Body): String = b.map(_.map(render).mkString(" ")).mkString("\n")
    // variant v of a cluster edits token (r + v) of each edited sentence,
    // so no two variants share an edited sentence (or a span around it)
    def variants(b: Body, n: Int): Seq[Body] = {
      val r = b.map(_.map(s => rng.nextInt(s.length)))
      (1 to n).map { v =>
        var i = -1
        b.zip(r).map { case (line, rs) => line.zip(rs).map { case (s, r0) =>
          i += 1
          if (i % 3 != 0) s
          else {
            val j = (r0 + v) % s.length
            var w = word()
            while (w == s(j)) w = word()
            s.updated(j, w)
          }
        } }
      }
    }
    val footers = Seq.fill(3)(Seq(render(sentence()), render(sentence())))
    val menu = "Home About Contact Login"

    val docs = mutable.ArrayBuffer[(String, Int, Boolean)]()
    var cluster = 0
    while (docs.size < NearShare * Docs) {
      val base = body()
      docs += ((text(base), cluster, false))
      variants(base, 1 + rng.nextInt(3)).foreach(v => docs += ((text(v), cluster, false)))
      cluster += 1
    }
    val nearEnd = docs.size
    while (docs.size - nearEnd < ExactShare * Docs) {
      val t = text(body())
      (0 until 2 + rng.nextInt(2)).foreach(_ => docs += ((t, cluster, false)))
      cluster += 1
    }
    (0 until (LowShare * Docs).toInt).foreach { i =>
      val t = i % 3 match {
        case 0 => text(Seq(Seq(sentence(), sentence(), sentence())))
        case 1 => text(body()) + "\nSed lorem ipsum dolor sit amet."
        case _ => text(body()) + "\nCall f{x} now please today."
      }
      docs += ((t, -1, true))
    }
    while (docs.size < Docs) {
      val lines = body().map(_.map(render).mkString(" "))
      val withMenu =
        if (rng.nextDouble() < MenuShare) lines.patch(lines.size / 2, Seq(menu), 0)
        else lines
      val withFooter =
        if (rng.nextDouble() < FooterShare)
          withMenu :+ footers(rng.nextInt(footers.size)).mkString(" ")
        else withMenu
      docs += ((withFooter.mkString("\n"), -1, false))
    }
    // ids in random order, so which member of a cluster survives varies
    val ids = (0L until docs.size.toLong).toArray
    for (i <- ids.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    Corpus(docs.indices.map { i =>
      val (t, c, low) = docs(i)
      Doc(ids(i), t, c, low)
    }, footers.map(_.head))
  }

  def texts(seed: Long): Seq[String] = corpus(seed).docs.map(_.text)

  def generate(spark: SparkSession, dir: String, seed: Long): Long = {
    val c = corpus(seed)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      c.docs.sortBy(_.id).map(d => Row(d.id, d.text)), 4), schema)
      .write.parquet(s"$dir/docs")
    // the planted truth the checks compare against
    val truth = c.docs.filter(_.cluster >= 0).groupBy(_.cluster).values
      .map(ds => "cluster " + ds.map(_.id).mkString(" ")) ++
      c.docs.filter(_.lowQuality).map(d => s"low ${d.id}") ++
      c.footers.map(f => s"footer $f")
    Files.write(Paths.get(dir, "truth.txt"), truth.mkString("", "\n", "\n").getBytes(UTF_8))
    c.docs.size.toLong
  }

  def prepare(spark: SparkSession, dir: String): Prepared =
    new Pipeline(spark, dir)

  private final class Pipeline(spark: SparkSession, dir: String) extends Prepared {
    private val docs = spark.read.parquet(s"$dir/docs")
    private val truth = Files.readAllLines(Paths.get(dir, "truth.txt"), UTF_8)
      .toArray(Array.empty[String]).toSeq.map(_.split(" ", 2))
    private val clusters = truth.collect { case Array("cluster", ids) =>
      ids.split(" ").map(_.toLong).toSeq }
    private val lowQuality = truth.collect { case Array("low", id) => id.toLong }.toSet
    private val footers = truth.collect { case Array("footer", f) => f }
    val items: Long = Docs.toLong

    private val releases = mutable.ArrayBuffer[() => Unit]()

    private def persisted(df: DataFrame): DataFrame = {
      val p = df.persist()
      Materialize.noop(p)
      p
    }

    def run(ctx: RunCtx): Unit = {
      val c4 = ctx.op("batch", "c4_clean") {
        ctx.layer("llm.C4.clean") { persisted(C4.clean(docs, "text", "id")) }
      } { _ => () }
      val kept = c4.filter(col("page_kept")).select(col("id"), col("text_clean"))

      val deduped = ctx.op("batch", "near_dedup") {
        ctx.layer("llm.Dedup.dedupNearMinhash") {
          val (d, release) = Dedup.dedupNearMinhashReleasable(kept, "text_clean", "id")
          releases += release
          persisted(d)
        }
      } { _ => () }

      val spanFree = ctx.op("batch", "span_dedup") {
        ctx.layer("llm.Spans.removeDuplicatedSpans") {
          val (s, release) =
            Spans.removeDuplicatedSpansReleasable(deduped, "text_clean", "id", SpanK)
          releases += release
          persisted(s)
        }
      } { _ => () }

      val packed = ctx.op("batch", "pack") {
        ctx.layer("llm.Packing.packSequences") {
          val (p, release) =
            Packing.packSequencesReleasable(spanFree, "text_clean", "id", CtxLen)
          releases += release
          persisted(p)
        }
      } { _ => () }

      val table = docs.select("id")
        .join(c4.select("id", "page_kept"), Seq("id"), "left")
        .join(deduped.select(col("id"), lit(true).as("dedup_keep")), Seq("id"), "left")
        .join(spanFree.select(col("id"), col("text_clean").as("text_final")), Seq("id"), "left")
        .join(packed.select("id", "seq_id"), Seq("id"), "left")
      val stages = Seq(
        "c4_page" -> col("page_kept"),
        "near_dedup" -> coalesce(col("dedup_keep"), lit(false)),
        "span_nonempty" -> (length(trim(coalesce(col("text_final"), lit("")))) > 0))

      val funnel = ctx.op("batch", "funnel") {
        ctx.layer("llm.Curate.funnel") { Curate.funnel(table, stages).collect().toSeq }
      } { rows =>
        val in = rows.map(_.getAs[Long]("rows_in"))
        val out = rows.map(_.getAs[Long]("rows_out"))
        Check(in.head == Docs, s"funnel stage 0 takes ${in.head} docs of $Docs")
        Check(out.head == Docs - lowQuality.size,
          s"C4 keeps ${out.head} pages, want ${Docs - lowQuality.size}")
        Check(in.tail == out.init && out.zip(out.tail).forall { case (a, b) => b <= a },
          s"funnel does not chain: in=$in out=$out")
      }

      ctx.op("batch", "write") {
        ctx.layer("llm.Curate.survivors") {
          Curate.survivors(table, stages).select("id", "text_final", "seq_id")
            .write.mode("overwrite").parquet(s"$dir/out/survivors")
          spark.createDataFrame(java.util.Arrays.asList(funnel: _*), funnel.head.schema)
            .write.mode("overwrite").parquet(s"$dir/out/attrition")
        }
      } { _ => () }
      ctx.afterRun {
        val rows = spark.read.parquet(s"$dir/out/survivors")
          .select("id", "text_final").collect()
        val ids = rows.map(_.getLong(0)).toSet
        Check(rows.length == funnel.last.getAs[Long]("rows_out"),
          s"wrote ${rows.length} survivors, funnel says ${funnel.last}")
        clusters.foreach { c =>
          val n = c.count(ids)
          Check(n == 1, s"planted duplicate cluster ${c.mkString(",")} keeps $n docs")
        }
        Check(!lowQuality.exists(ids), "a low-quality page survived")
        Check(rows.forall(r => !footers.exists(r.getString(1).contains)),
          "a boilerplate footer survived span removal")
        val attrition = spark.read.parquet(s"$dir/out/attrition").count()
        Check(attrition == stages.size, s"attrition table has $attrition rows")
      }
    }

    override def cleanup(): Unit = {
      releases.foreach(_())
      releases.clear()
      Materialize.releaseAll(spark)
    }
  }
}

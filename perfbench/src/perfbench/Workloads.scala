package perfbench

import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.AccumulatorV2

import graft.Tables
import graft.functions.Histogram
import graft.ops.{Dedup, Scd2, Similarity, Transitions}
import graft.streaming.Streams
import graft.tdf.{CutInfo, Result, TDF}

/** One workload: generated inputs under `in`, artifacts under `scratch`
  * (emptied before every op). `op` runs one closed-loop operation through
  * the library's public API and returns its correctness check, which runs
  * after the op is timed and lists every mismatch it finds.
  */
abstract class Workload(val spark: SparkSession, val in: String, val scratch: String) {
  /** input rows one op consumes */
  def rowsPerOp: Long
  /** untimed ops before the loop: enough for the JIT to settle at the op's length */
  def warmups: Int
  /** computes the references the checks compare against */
  def setup(): Unit
  def op(tr: Tracer): () => Seq[String]
}

object Workload {
  def apply(name: String, spark: SparkSession, in: String, scratch: String): Workload = name match {
    case "tdf_book_many" => new BookMany(spark, in, scratch)
    case "tdf_scan_chain" => new ScanChain(spark, in, scratch)
    case "ops_dedup_ann" => new DedupAnn(spark, in, scratch)
    case "stream_fold" => new StreamFold(spark, in, scratch)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def expect(what: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, want $want")

  /** A booked result as the flat list of numbers perfbench/gen.py writes
    * into expected.json; histogram sums only where they are exact.
    */
  def flat(v: Any, sums: Boolean = true): Seq[Double] = v match {
    case n: Long => Seq(n.toDouble)
    case d: Double => Seq(d)
    case h: Histogram =>
      Seq(h.lo, h.hi) ++ h.counts.map(_.toDouble) ++ Seq(h.underflow, h.overflow, h.entries).map(_.toDouble) ++
        (if (sums) Seq(h.sumx, h.sumx2) else Nil)
    case cuts: Seq[_] => cuts.flatMap { case c: CutInfo => Seq(c.pass.toDouble, c.all.toDouble) }
  }

  /** expected.json of a TDF workload: label -> flat list of numbers */
  def expected(in: String): Map[String, Seq[Double]] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new java.io.File(s"$in/expected.json"), classOf[java.util.Map[String, java.util.List[Number]]])
    m.asScala.map { case (k, v) => k -> v.asScala.map(_.doubleValue).toSeq }.toMap
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
import Workload._

/** Many actions on a small table: each op builds a fresh TDF with two shared
  * Defines and four forked Filter branches and books 12 actions per branch.
  */
final class BookMany(spark: SparkSession, in: String, scratch: String)
    extends Workload(spark, in, scratch) {
  private val path = s"$in/events.parquet"
  private val NBINS = 64
  private val ht = aggregate(col("jet_pt"), lit(0.0), (a, b) => a + b)
  private val st = col("met") + col("ht")
  /** per branch: its cuts, each optionally named for the cut-flow report;
    * perfbench/gen.py computes the expected results of the same branches
    */
  private val branches: Seq[Seq[(Option[String], Column)]] = Seq(
    Seq(None -> (col("njet") >= 2)),
    Seq(None -> (col("met") > 64.0)),
    Seq(None -> (col("ht") > 128.0)),
    Seq(Some("central") -> (abs(col("eta")) < 2.5), Some("hard") -> (col("st") > 100.0)))

  private var rows = 0L
  private var want: Map[String, Seq[Double]] = Map.empty
  def rowsPerOp: Long = rows
  def warmups: Int = 12

  def setup(): Unit = {
    want = expected(in)
    rows = spark.read.parquet(path).count()
  }

  def op(tr: Tracer): () => Seq[String] = {
    // power-of-two bin widths keep the binning exact
    val booked: Seq[(Seq[String], Seq[(String, Result[_])])] = tr.span("tdf.book") {
      val root = TDF.read(spark, path).Define("ht", ht).Define("st", st)
      branches.map { cuts =>
        val b = cuts.foldLeft(root) {
          case (d, (Some(n), p)) => d.Filter(n, p)
          case (d, (None, p)) => d.Filter(p)
        }
        val names = cuts.zipWithIndex.map { case ((n, _), i) => n.getOrElse(s"filter_$i") }
        names -> Seq("count" -> b.Count(), "sum(met)" -> b.Sum("met"), "sum(ht)" -> b.Sum("ht"),
          "mean(met)" -> b.Mean("met"), "min(met)" -> b.Min("met"), "max(met)" -> b.Max("met"),
          "min(ht)" -> b.Min("ht"), "max(st)" -> b.Max("st"),
          "histo(met)" -> b.Histo("met", NBINS, 0.0, 256.0),
          "histo(ht)" -> b.Histo("ht", NBINS, 0.0, 1024.0),
          "histoW(st)" -> b.HistoWeighted("st", "weight", NBINS, 0.0, 2048.0),
          "report" -> b.Report())
      }
    }
    tr.add("tdf.actions", booked.map(_._2.size).sum.toDouble)
    tr.span("tdf.deref") { booked.head._2.head._2() }
    () => booked.zipWithIndex.flatMap { case ((names, results), i) =>
      results.flatMap { case (name, r) =>
        val label = s"branch $i $name"
        expect(label, flat(r()), want(label)) ++ (r() match {
          case cuts: Seq[_] => expect(s"$label names", cuts.map { case c: CutInfo => c.name }, names)
          case _ => Nil
        })
      }
    }
  }
}

/** Per-slot partial sums of a long, merged when the loop ends. */
final class SlotSums extends AccumulatorV2[(Int, Long), Map[Int, Long]] {
  private val m = mutable.HashMap.empty[Int, Long]
  def isZero: Boolean = m.isEmpty
  def copy(): SlotSums = { val c = new SlotSums; c.m ++= m; c }
  def reset(): Unit = m.clear()
  def add(v: (Int, Long)): Unit = m(v._1) = m.getOrElse(v._1, 0L) + v._2
  def merge(o: AccumulatorV2[(Int, Long), Map[Int, Long]]): Unit =
    o.value.foreach { case (k, v) => add((k, v)) }
  def value: Map[Int, Long] = m.toMap
}

object ScanChain {
  def pt(t: Row): Double = math.sqrt(t.getDouble(0) * t.getDouble(0) + t.getDouble(1) * t.getDouble(1))
  def sumSlots(acc: SlotSums): (Int, Row) => Unit = (slot, r) => acc.add((slot, r.getInt(0).toLong))
}

/** The reference benchmark chain (benchmarks/benchmark.cxx:113-122) on the
  * typed-lambda surface, over a table with `tracks: array<struct<x,y,z,t>>`.
  */
final class ScanChain(spark: SparkSession, in: String, scratch: String)
    extends Workload(spark, in, scratch) {
  private val path = s"$in/events.parquet"
  private val NBINS = 64
  private var rows = 0L
  private var want: Map[String, Seq[Double]] = Map.empty
  def rowsPerOp: Long = rows
  def warmups: Int = 3

  def setup(): Unit = {
    want = expected(in)
    rows = spark.read.parquet(path).count()
  }

  def op(tr: Tracer): () => Seq[String] = {
    val acc = new SlotSums
    spark.sparkContext.register(acc)
    val (d, auto, fixed, cnt) = tr.span("tdf.book") {
      val d = TDF.read(spark, path)
        .Define("tracks_n", (t: Seq[Row]) => t.size, Seq("tracks"))
        .Filter((n: Int) => n > 2, Seq("tracks_n"))
        .Define("tracks_pts", (t: Seq[Row]) => t.map(ScanChain.pt), Seq("tracks"))
      (d, d.Histo("tracks_pts", NBINS), d.Histo("tracks_pts", NBINS, 0.0, 64.0), d.Count())
    }
    tr.add("tdf.actions", 4)
    // ForeachSlot is an instant action: it runs the whole booked batch
    tr.span("tdf.deref") { d.ForeachSlot(Seq("tracks_n"))(ScanChain.sumSlots(acc)) }
    () => Seq("count" -> flat(cnt()), "fixed histo" -> flat(fixed(), sums = false),
      "auto histo" -> flat(auto(), sums = false),
      "merged slot partials" -> flat(acc.value.values.sum)).flatMap { case (k, v) => expect(k, v, want(k)) }
  }
}

/** Near-duplicate LSH, containment join and a persisted int8 IVF index
  * written and searched, over documents and embeddings with planted pairs.
  */
final class DedupAnn(spark: SparkSession, in: String, scratch: String)
    extends Workload(spark, in, scratch) {
  private val K = 32        // minhash functions
  private val BAND = 2      // rows per band: a planted pair (J >= 0.8) misses with p < 1e-7
  private val NGRAM = 3
  private val T_PCT = 80
  private val CENTS = 16
  private val TOPK = 5
  private val NPROBE = 4
  private val VERIFIED_J = 0.7

  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  private var planted: Seq[(String, Long, Long)] = Nil
  private var rows = 0L
  private var firstDigest: Option[String] = None
  def rowsPerOp: Long = rows
  def warmups: Int = 1

  def setup(): Unit = {
    docs = spark.read.parquet(s"$in/documents.parquet")
    emb = spark.read.parquet(s"$in/embeddings.parquet")
    queries = spark.read.parquet(s"$in/queries.parquet")
    planted = spark.read.parquet(s"$in/planted.parquet").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    rows = 2 * docs.count() + emb.count() + queries.count()
  }

  private def cells(rs: Array[Row], cols: String*): Seq[Seq[Any]] =
    rs.map(r => cols.map(c => r.getAs[Any](c))).toSeq

  def op(tr: Tracer): () => Seq[String] = {
    val idx = s"$scratch/ivf_int8"
    val lsh = tr.span("ops.lsh.call") { Dedup.nearDuplicatesLsh(docs, "doc_id", "text", K, BAND, NGRAM) }
    val lshRows = tr.span("ops.lsh.run") { lsh.collect() }
    val cont = tr.span("ops.containment.call") { Dedup.containmentJoin(docs, "doc_id", "text", NGRAM, T_PCT) }
    val contRows = tr.span("ops.containment.run") { cont.collect() }
    tr.span("ops.ann_write.call") {
      Similarity.writeIvfInt8Index(emb, "vec_id", "embedding", idx, CENTS, trainIters = 2)
    }
    val search = tr.span("ops.ann_search.call") {
      Similarity.searchIvfInt8Index(spark, idx, queries, "vec_id", "embedding", TOPK, NPROBE)
    }
    val annRows = tr.span("ops.ann_search.run") { search.collect() }
    () => {
      val l = cells(lshRows, "id_a", "id_b", "n_inter", "n_union", "jaccard")
      val c = cells(contRows, "id_a", "id_b", "n_inter", "sz_a", "containment")
      val a = cells(annRows, "query_id", "neighbor_id", "rank", "cos_q")
      val digest = sha256(Seq(l, c, a).map(_.map(_.mkString(",")).sorted.mkString(";")).mkString("|"))
      if (firstDigest.isEmpty) firstDigest = Some(digest)
      val verified = lshRows.count(_.getAs[Double]("jaccard") >= VERIFIED_J)
      tr.add("ops.lsh.candidates", lshRows.length.toDouble)
      tr.add("ops.lsh.verified", verified.toDouble)
      def pairs(rs: Array[Row], x: String, y: String, keep: Row => Boolean) =
        rs.filter(keep).map(r => (r.getAs[Long](x), r.getAs[Long](y))).toSet
      val nearFound = pairs(lshRows, "id_a", "id_b", _.getAs[Double]("jaccard") >= VERIFIED_J)
      val contFound = pairs(contRows, "id_a", "id_b", _ => true)
      val annFound = pairs(annRows, "query_id", "neighbor_id", _ => true)
      val missing = planted.filterNot {
        case ("near", x, y) => nearFound((math.min(x, y), math.max(x, y)))
        case ("contain", x, y) => contFound((x, y))
        case (_, q, n) => annFound((q, n))
      }
      expect("digest", digest, firstDigest.get) ++
        missing.map { case (k, x, y) => s"planted $k pair ($x, $y) not found" }
    }
  }
}

/** Streaming SCD2 and transition folds over a time-chunked replay of an
  * `events` table, each with a fixed number of triggers.
  */
final class StreamFold(spark: SparkSession, in: String, scratch: String)
    extends Workload(spark, in, scratch) {
  private val N_CHUNKS = 2
  private var rows = 0L
  private var wantScd: Map[Seq[Any], Int] = Map.empty
  private var wantTrans: Map[Seq[Any], Int] = Map.empty
  def rowsPerOp: Long = rows
  def warmups: Int = 1

  /** rows as a multiset (row -> multiplicity), so a row emitted twice shows */
  private def bag(df: DataFrame, cols: String*): Map[Seq[Any], Int] =
    df.select(cols.map(col): _*).collect().toSeq.map(_.toSeq)
      .groupBy(identity).map { case (r, rs) => r -> rs.size }
  private def scdRows(df: DataFrame) =
    bag(df, "user_id", "version", "segment", "valid_from", "valid_to", "n_rows", "is_current")
  private def transRows(df: DataFrame) = bag(df, "from_event", "to_event", "n")

  def setup(): Unit = {
    val ev = Tables.events(spark, in)
    rows = 2 * ev.count()
    wantScd = scdRows(Scd2.batch(ev, "user_id", "ts", "event_id", "event_type"))
    wantTrans = transRows(Transitions.batchCounts(ev, "user_id", "ts", "event_id", "event_type"))
  }

  private def diff(what: String, got: Map[Seq[Any], Int], want: Map[Seq[Any], Int]): Seq[String] = {
    def less(a: Map[Seq[Any], Int], b: Map[Seq[Any], Int]) =
      a.map { case (r, n) => math.max(0, n - b.getOrElse(r, 0)) }.sum
    if (got == want) Nil
    else Seq(s"$what: ${less(want, got)} rows missing, ${less(got, want)} extra")
  }

  def op(tr: Tracer): () => Seq[String] = {
    val scd = tr.span("stream.scd2") { Streams.streamingScd2(spark, in, N_CHUNKS) }
    val scdGot = tr.span("stream.scd2.run") { scdRows(scd) }
    val trans = tr.span("stream.transitions") { Streams.streamingTransitions(spark, in, N_CHUNKS) }
    val transGot = tr.span("stream.transitions.run") { transRows(trans) }
    () => diff("scd2", scdGot, wantScd) ++ diff("transitions", transGot, wantTrans)
  }
}

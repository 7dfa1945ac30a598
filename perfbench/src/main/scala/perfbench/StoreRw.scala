package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Caches
import graft.ops.{AnnIndex, DedupIndex, LineStore, Pq, Sketches}
import graft.sources.Tables

/** Mixed reads and writes against the four persisted stores: the
  * ANN index, the dedup index, the line store and the sketch store.
  * The stores are built in set-up over a seeded 80% of the documents
  * and embeddings; the held-out 20% arrives as append batches. Each
  * pass is 6 reads and 2 writes (3:1) in seeded order, and every
  * second write to a store is followed by its compaction. It is the
  * one workload that exercises the store write path and the
  * CompactSwap version and file lifecycle, so a store change that
  * speeds serving but slows ingest, or leaves garbage on disk, shows
  * here. The stream is planned from the seed alone; the
  * planner's model of each store's live rows is what the final check
  * rebuilds every store from. */
final class StoreRw(spark: SparkSession, data: String, root: String, seed: Long) extends Workload {
  import StoreRw._

  private val rnd = new scala.util.Random(seed)
  private val docMeta: Map[Long, (String, String)] =
    Tables.load(spark, data, "documents").select("doc_id", "lang", "source").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
  private val docIds = docMeta.keys.toSeq.sorted
  private val vecIds = Tables.load(spark, data, "embeddings").select("vec_id").collect()
    .map(_.getLong(0)).sorted.toSeq
  // the quantizers are trained from vec_ids 1..Ks, so those (and the
  // vec_id 0 the registry keeps out of its corpora) are never held
  // out or taken down: a rebuild over the live rows then trains the
  // same quantizers, and the appended index equals a fresh one
  private val movable = vecIds.filter(_ > P.ks)
  private val heldDocs = rnd.shuffle(docIds).take(docIds.size / 5)
  private val heldVecs = rnd.shuffle(movable).take(vecIds.size / 5)

  private val docBatches = heldDocs.grouped(Batch).toVector
  private val vecBatches = heldVecs.grouped(Batch).toVector

  // the planner's model of each store's live rows
  private val live = Map(
    "AnnIndex" -> mutable.SortedSet(vecIds.diff(heldVecs): _*),
    "DedupIndex" -> mutable.SortedSet(docIds.diff(heldDocs): _*),
    "LineStore" -> mutable.SortedSet(docIds.diff(heldDocs): _*),
    "Sketches" -> mutable.SortedSet(docIds.diff(heldDocs): _*))
  private val appended = mutable.Map(Stores.map(_ -> 0): _*)
  private val writes = mutable.Map(Stores.map(_ -> 0): _*)

  private def dir(store: String, under: String = root) = s"$under/$store"
  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")
  private def emb(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("ve"))
  private def ids(c: String, xs: Iterable[Long]): Column = col(c).isin(xs.toSeq: _*)

  private def build(s: SparkSession, store: String, d: String, target: String,
                    docRows: Column, vecRows: Column): Unit = store match {
    case "AnnIndex" => AnnIndex.build(emb(s, d).where(vecRows), target, IvfK, P)
    case "DedupIndex" => DedupIndex.build(docs(s, d).where(docRows), target, Text, Id)
    case "LineStore" => LineStore.build(docs(s, d).where(docRows), target, Text, Id, Sep)
    case "Sketches" => Sketches.ingestBatch(docs(s, d).where(docRows), target, Keys, Item)
  }

  private def read(s: SparkSession, store: String, d: String, target: String,
                   probe: Seq[Long], queries: => DataFrame): DataFrame = store match {
    case "AnnIndex" => AnnIndex.searchBatch(s, queries, target, nprobe = 2, limit = 10, p = P)
    case "DedupIndex" => DedupIndex.deltaKeep(s, docs(s, d).where(ids("doc_id", probe)),
      target, Text, Id)
    case "LineStore" => LineStore.scrubDelta(s, docs(s, d).where(ids("doc_id", probe)),
      target, Text, Id, Sep)
    case "Sketches" => Sketches.estimateStore(s, target, Keys)
  }

  private def compact(s: SparkSession, store: String, target: String): Unit = store match {
    case "AnnIndex" => AnnIndex.compact(s, target)
    case "DedupIndex" => DedupIndex.compact(s, target)
    case "LineStore" => LineStore.compact(s, target)
    case "Sketches" => Sketches.compact(s, target, Keys)
  }

  private def queryFrame(s: SparkSession, r: scala.util.Random): DataFrame = {
    val qs = (0 until QueryBatch).map { i =>
      val v = Array.fill(P.dim)(r.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(_ / n).toSeq)
    }
    s.createDataFrame(s.sparkContext.parallelize(qs, 1),
      org.apache.spark.sql.types.StructType.fromDDL("query_id BIGINT, qv ARRAY<DOUBLE>"))
  }

  /** Builds the four stores over the base rows, each timed. */
  def setup(s: SparkSession): Map[String, Any] = Stores.map { store =>
    val t0 = Main.now
    build(s, store, data, dir(store), ids("doc_id", live(store)), ids("vec_id", live(store)))
    Caches.releaseAll(blocking = true)
    s"build_s.$store" -> (Main.now - t0) / 1000
  }.toMap

  /** Appends `rows` to, or takes them down from, a store. The sketch
    * store can only take down whole groups: `rows` name the groups. */
  private def write(s: SparkSession, store: String, d: String, target: String,
                    append: Boolean, rows: Seq[Long], idCol: String): Unit =
    (store, append) match {
      case ("AnnIndex", true) => AnnIndex.append(s, emb(s, d).where(ids(idCol, rows)), target, P)
      case ("AnnIndex", false) =>
        AnnIndex.takedown(s, emb(s, d).where(ids(idCol, rows)).select("vec_id"), target)
      case ("DedupIndex", true) => DedupIndex.append(docs(s, d).where(ids(idCol, rows)),
        target, Text, Id)
      case ("DedupIndex", false) => DedupIndex.takedown(docs(s, d).where(ids(idCol, rows)),
        target, Text, Id)
      case ("LineStore", true) => LineStore.append(docs(s, d).where(ids(idCol, rows)),
        target, Text, Id, Sep)
      case ("LineStore", false) => LineStore.takedown(docs(s, d).where(ids(idCol, rows)),
        target, Text, Id, Sep)
      case ("Sketches", true) => Sketches.ingestBatch(docs(s, d).where(ids(idCol, rows)),
        target, Keys, Item)
      case ("Sketches", false) =>
        val groups = docs(s, d).where(ids(idCol, rows)).select("lang", "source").distinct()
          .collect().map(g => col("lang") === g.getString(0) && col("source") === g.getString(1))
        Sketches.takedownGroup(s, target, groups.reduce(_ || _))
    }

  def minPasses: Int = 5

  /** Plans pass `i` against the model and advances the model as if
    * every write succeeds; a failed write then shows in the check.
    * Reads and writes rotate over the stores, and each store's writes
    * alternate between append and takedown (takedown once its append
    * batches are used up). */
  def pass(i: Int): Seq[Op] = {
    val reads = (0 until ReadsPerPass).map { k =>
      val store = Stores((i * ReadsPerPass + k) % Stores.size)
      val probe = rnd.shuffle(docIds).take(Batch)
      val qr = new scala.util.Random(rnd.nextLong())
      val rows = store match {
        case "AnnIndex" => QueryBatch.toLong
        case "Sketches" => 0L
        case _ => Batch.toLong
      }
      Seq(Op(s"$store.read", "read",
        s => Some(read(s, store, data, dir(store), probe, queryFrame(s, qr))), store, rows))
    }
    val ws = (0 until WritesPerPass).map { k =>
      val store = Stores((i * WritesPerPass + k) % Stores.size)
      val batches = if (store == "AnnIndex") vecBatches else docBatches
      val append = writes(store) % 2 == 0 && appended(store) < batches.size
      val idCol = if (store == "AnnIndex") "vec_id" else "doc_id"
      val rows: Seq[Long] =
        if (append) {
          val b = batches(appended(store))
          appended(store) += 1
          live(store) ++= b
          b
        } else store match {
          case "Sketches" =>
            // one live document's whole (lang, source) group
            val d = rnd.shuffle(live(store).toSeq).head
            live(store) --= live(store).filter(x => docMeta(x) == docMeta(d)).toSeq
            Seq(d)
          case _ =>
            val cand = live(store).toSeq.filter(x => store != "AnnIndex" || x > P.ks)
            val gone = rnd.shuffle(cand).take(Takedown)
            live(store) --= gone
            gone
        }
      writes(store) += 1
      val w = Op(s"$store.${if (append) "append" else "takedown"}", "write",
        s => { write(s, store, data, dir(store), append, rows, idCol); None },
        store, rows.size.toLong)
      if (writes(store) % CompactEvery == 0)
        Seq(w, Op(s"$store.compact", "compact", s => { compact(s, store, dir(store)); None },
          store, 0L, dir(store)))
      else Seq(w)
    }
    rnd.shuffle(reads ++ ws).flatten
  }

  /** Every store read must equal the same read against a store rebuilt
    * from scratch over the model's final live rows. */
  def check(s: SparkSession, checkDir: String): Seq[Map[String, Any]] = {
    val probe = rnd.shuffle(docIds).take(2 * Batch)
    val qseed = rnd.nextLong()
    Stores.map { store =>
      val fresh = dir(store, checkDir)
      val result = try {
        val rows = live(store)
        def rowsOf(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
        def readOf(target: String) = read(s, store, data, target, probe,
          queryFrame(s, new scala.util.Random(qseed)))
        val (got, want) =
          if (store == "Sketches") {
            // a union of per-batch HLL sketches and a single sketch hold
            // the same registers but take different estimator paths, so
            // the recompute is the exact distinct count per rollup group
            // and each estimate must lie within the lgK=12 error budget
            // the registry's sketch queries grade (5%)
            val est = readOf(dir(store))
            val exact = docs(s, data).where(ids("doc_id", rows)).rollup(Keys.map(col): _*)
              .agg(grouping_id().as("gid"), countDistinct(Item).as("n"))
            val joined = est.join(exact, Keys.map(k => est(k) <=> exact(k)).reduce(_ && _) &&
                est("gid") === exact("gid"), "full_outer")
              .select(coalesce(est("gid"), lit(-1L)).as("g1"), coalesce(exact("gid"), lit(-2L)),
                (abs(est("est") - exact("n")) <= exact("n") * 0.05).as("within"))
            (rowsOf(joined), rowsOf(joined.where(col("within") === true)))
          } else {
            build(s, store, data, fresh, ids("doc_id", rows), ids("vec_id", rows))
            (rowsOf(readOf(dir(store))), rowsOf(readOf(fresh)))
          }
        if (got == want) Map("ok" -> true, "rows" -> got.size)
        else Map("ok" -> false, "error" -> (s"store read differs from a rebuild: ${got.size} " +
          s"rows vs ${want.size}, first difference ${got.diff(want).headOption.getOrElse("-")}"))
      } catch { case NonFatal(e) =>
        Map("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(300))
      }
      Caches.releaseAll(blocking = true)
      // the live rows' share of their input table's bytes
      val (table, all) = if (store == "AnnIndex") ("embeddings", vecIds) else ("documents", docIds)
      val tableBytes = Disk.sizes(s"$data/$table.parquet").values.sum
      result ++ Map("name" -> s"$store.read", "kind" -> "store", "live_rows" -> live(store).size,
        "live_bytes" -> tableBytes.toDouble * live(store).size / all.size)
    }
  }

  /** Store health at the end of the run, measured before run.py
    * removes the run's directories. */
  override def extra(s: SparkSession): Map[String, Any] = Map("stores" -> Stores.map { store =>
    val files = Disk.sizes(dir(store))
    val data = files.filter { case (f, _) => f.endsWith(".parquet") }
    val versions = Option(new java.io.File(dir(store)).listFiles).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.matches(".*_v\\d+"))
    store -> Map("files" -> data.size, "bytes" -> files.values.sum, "versions" -> versions)
  }.toMap)
}

object StoreRw {
  val Stores = Seq("AnnIndex", "DedupIndex", "LineStore", "Sketches")
  /** Documents or vectors per append batch and per read probe. */
  val Batch = 40
  val QueryBatch = 8
  val Takedown = 10
  val ReadsPerPass = 6
  val WritesPerPass = 2
  val CompactEvery = 2
  // the registry's store parameters (IvfK, Pq params, line separator,
  // sketch keys) so the workload serves the graded store shapes
  val IvfK = 8
  val P: Pq.Params = Pq.Params(64, 8, 16)
  val Sep = " the "
  val Keys = Seq("lang", "source")
  val Text: Column = col("text")
  val Id: Column = col("doc_id")
  val Item: Column = md5(col("text"))
}

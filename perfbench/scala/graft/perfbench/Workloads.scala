package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ann.AnnSearch
import graft.cypher.{CypherLite, ReferenceQueries}
import graft.dedup.Dedup
import graft.graph.{Algorithms, FastRP, Louvain, RatingsGraph}
import graft.recommend.{Recommend, Serving}
import graft.text.TextOps

/** Calls into the layers' public functions, each wrapped in its span and
  * materialised so the span covers the work. */
object Layers {
  def ratings(s: SparkSession, dir: String): Unit =
    Trace.span("ratings.build") { RatingsGraph.ratings(s, dir).count() }: Unit

  def cooc(s: SparkSession, dir: String): Unit = {
    val n = Trace.span("cooc.build") { RatingsGraph.cooccurrenceEdges(s, dir).count() }
    Trace.count("cooc.edges", n.toDouble)
  }

  def recsTable(s: SparkSession, dir: String): String =
    Trace.span("serving.recs_table") { Serving.recommendationsTable(s, dir) }

  def booksTable(s: SparkSession, dir: String): String =
    Trace.span("serving.books_table") { Serving.userBooksTable(s, dir) }

  /** Ratings, co-occurrence and both serving tables: the state `online`
    * starts from. */
  def servingTables(s: SparkSession, dir: String): (String, String) = {
    ratings(s, dir)
    cooc(s, dir)
    (recsTable(s, dir), booksTable(s, dir))
  }

  /** The shared builds' per-layer figures, from whichever phase ran them. */
  def report(r: Run): Unit = {
    Seq("ratings.build_s" -> "ratings.build", "cooc.build_s" -> "cooc.build",
      "serving.recs_table_s" -> "serving.recs_table",
      "serving.books_table_s" -> "serving.books_table")
      .foreach { case (m, sp) => r.layers(m) = r.spanS(sp) }
    r.layers("cooc.edges") = r.countMedian("cooc.edges")
  }

  /** Open the raw tables a batch job reads (schema and row count). */
  def openInputs(s: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach(n => Tables.table(s, dir, n).count())
}

/** Canonical text rows of the artifacts the wrapper re-derives with its
  * own oracle. Averages are carried as their exact integer sum
  * (avg × votes), so the comparison needs no float formatting rule. */
object Canon {
  def ratings(df: DataFrame): Seq[String] =
    df.select("user_id", "book_id", "rating").collect()
      .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}").toSeq

  def cooc(df: DataFrame): Seq[String] =
    df.select("u1", "u2", "weight").collect()
      .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}").toSeq

  def recs(df: DataFrame): Seq[String] =
    df.select("user_id", "book_id", "title", "avg_rating", "votes").collect()
      .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getString(2)}," +
        s"${math.round(r.getDouble(3) * r.getLong(4))},${r.getLong(4)}").toSeq

  def books(df: DataFrame): Seq[String] =
    df.select("user_id", "book_id", "title", "rating").collect()
      .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getString(2)},${r.getLong(3)}").toSeq

  /** Digests of a ratings / co-occurrence / recommendations / user-books
    * state, keyed as the wrapper's oracle keys them. */
  def digests(ratings: DataFrame, cooc: DataFrame, recs: DataFrame,
      books: DataFrame): Map[String, String] =
    Map("ratings" -> Stats.digest(Canon.ratings(ratings)),
      "cooc" -> Stats.digest(Canon.cooc(cooc)),
      "recs" -> Stats.digest(Canon.recs(recs)),
      "books" -> Stats.digest(Canon.books(books)))

  /** Digests of the session's serving state. */
  def serving(s: SparkSession, dir: String): Map[String, String] =
    digests(RatingsGraph.ratings(s, dir), RatingsGraph.cooccurrenceEdges(s, dir),
      s.table(Serving.recommendationsTable(s, dir)), s.table(Serving.userBooksTable(s, dir)))
}

/** `online`: the interactive service. Per-user page requests against warm
  * serving tables (an open loop at a fixed rate for latency, timed from
  * each request's due time, then a closed loop of `cores` clients for
  * throughput), then small rating batches folded in through the
  * incremental merges, each batch's users read back from the merged
  * state. Both phases share one set-up: the serving tables. */
object Online {
  val OpenRate = 3.0        // page requests per second, under half the capacity
  val OpenShare = 0.75      // of the run's seconds; then the closed loop
  // Closed loops serve a fixed block of the mixed requests (see gen.py), so
  // every run serves the same classes: a graph_view and a cypher request
  // first, then 18 pages.
  val WarmFrom = 10000      // warm-up block
  val WarmCount = 12
  val ClosedFrom = 5000     // throughput block
  val ClosedCount = 20
  val IngestBatches = 2     // measured batches after the warm-up batch

  def run(r: Run): Unit = {
    var tables: (String, String) = null
    r.setup(3) { s => tables = Layers.servingTables(s, r.dir) }
    r.mark("setup")
    val serve = new Serve(r)
    val ingest = new Ingest(r, tables)
    // warm the read and the merge paths side by side, and check the served
    // answers meanwhile (the serving tables do not change during the run;
    // the merges build new frames); none of it is measured
    Par.both(Par.both(serve.closedLoop(WarmFrom, WarmCount), ingest.warm()), serve.checks())
    serve.reset()
    r.mark("warm")
    r.beginPhase()
    val s0 = r.snap()
    val requests = serve.measure(r.seconds * OpenShare)
    r.engine("spark", s0, requests)
    r.mark("serve")
    val i0 = r.snap()
    ingest.measure(IngestBatches)
    r.engine("merge.spark", i0, IngestBatches)
    r.endPhase()
    r.mark("ingest")
    Layers.report(r)
    ingest.checks()
    r.mark("checks")
  }
}

/** The read side of `online`: the reference app's page (recommendations
  * plus rated books), its graph view and its Cypher recommendation. */
final class Serve(r: Run) {
  private val s = r.spark
  private val dir = r.dir
  private val reqs = r.input("serve.txt").map(a => (a(0), a(1).toLong))
  // every response for one (kind, user) must be the same: the state does
  // not change while the reads run
  private val seen = new ConcurrentHashMap[(String, Long), String]()
  private val kinds = new ConcurrentLinkedQueue[(String, Double)]()

  def request(kind: String, user: Long): String = kind match {
    case "page" => Trace.span("serve.page") {
      val recs = Trace.span("serving.recs_lookup") {
        Serving.recommendationsLookup(s, dir, user).collect()
      }
      val books = Trace.span("serving.books_lookup") {
        Serving.userBooksLookup(s, dir, user).collect()
      }
      Stats.rowsKey(recs) + "\n#\n" + Stats.rowsKey(books)
    }
    case "graph_view" => Trace.span("recommend.graph_view") {
      Stats.rowsKey(Recommend.graphNeighborhood(s, dir, user).collect())
    }
    case "cypher" => Trace.span("serve.cypher") {
      val df = Trace.span("cypher.compile") { Serve.cypherRecs(s, dir, user) }
      Stats.rowsKey(Trace.span("cypher.exec") { df.collect() })
    }
  }

  /** A traced run traces every other open-loop page and alternate mixed
    * blocks of 20 requests (each holds the whole mix). */
  private def traced(i: Int): Boolean =
    r.traced && (if (i < Online.ClosedFrom) i % 2 == 0 else i / 20 % 2 == 0)

  private def serveOne(i: Int): Unit = {
    val (kind, user) = reqs(i % reqs.length)
    val t0 = r.now
    r.op(s"$kind user $user") {
      Trace.request(i.toLong, traced(i)) { request(kind, user) }
    }.foreach { key =>
      val prev = seen.putIfAbsent((kind, user), key)
      if (prev != null && prev != key) r.fail(s"$kind user $user: response changed")
    }
    kinds.add((kind, (r.now - t0) / 1e6))
  }

  /** `cores` clients, each sending its next request when the last one
    * returns, until requests `from` until `from + count` are served;
    * (requests, seconds). */
  def closedLoop(from: Int, count: Int): (Long, Double) = {
    val t0 = r.now
    val block = new AtomicInteger(from)
    val clients = (0 until r.cores).map { _ =>
      val t = new Thread(() => {
        var i = block.getAndIncrement()
        while (i < from + count) { serveOne(i); i = block.getAndIncrement() }
      })
      t.start(); t
    }
    clients.foreach(_.join())
    (count.toLong, (r.now - t0) / 1e9)
  }

  def reset(): Unit = kinds.clear()

  /** Open loop then closed loop; returns the requests served. */
  def measure(openSecs: Double): Long = {
    // request i is due at t0 + i / rate, whatever happened before it
    val period = (1e9 / Online.OpenRate).toLong
    val pool = Executors.newFixedThreadPool(r.cores)
    val lat = new ConcurrentLinkedQueue[(Double, Boolean)]()
    val late = ArrayBuffer[Double]()
    val t0 = r.now + 20000000L
    val openEnd = t0 + (openSecs * 1e9).toLong
    var i = 0L  // the open loop serves requests 0, 1, …
    var due = t0
    while (due < openEnd) {
      var w = due - r.now
      while (w > 0) { LockSupport.parkNanos(w); w = due - r.now }
      late += (r.now - due) / 1e6
      val d = due
      val k = i.toInt
      pool.submit(new Runnable {
        def run(): Unit = { serveOne(k); lat.add(((r.now - d) / 1e6, traced(k))) }
      })
      i += 1
      due = t0 + i * period
    }
    pool.shutdown()
    pool.awaitTermination(150, TimeUnit.SECONDS)
    val (closed, secs) = closedLoop(Online.ClosedFrom, Online.ClosedCount)

    r.latencies(lat.asScala.toSeq)
    r.endToEnd("work_per_s") = closed / secs
    r.detail("open_rate_per_s") = Online.OpenRate
    r.detail("open_requests") = i
    r.detail("closed_requests") = closed
    r.detail("closed_clients") = r.cores
    r.detail("generator_late_ms_p50") = Stats.median(late.toSeq)
    r.detail("generator_late_ms_max") = if (late.isEmpty) 0.0 else late.max
    r.detail("p50_ms_by_kind") = kinds.asScala.toSeq.groupBy(_._1)
      .map { case (k, xs) => k -> Stats.median(xs.map(_._2)) }
    r.layers("serving.recs_lookup_ms") = r.spanMs("serving.recs_lookup")
    r.layers("serving.books_lookup_ms") = r.spanMs("serving.books_lookup")
    r.layers("recommend.graph_view_ms") = r.spanMs("recommend.graph_view")
    r.layers("cypher.compile_ms") = r.spanMs("cypher.compile")
    r.layers("cypher.exec_ms") = r.spanMs("cypher.exec")
    i + closed
  }

  /** The served answers against the engine's ad-hoc queries for a seeded
    * user sample, and the serving tables for the wrapper's oracle. */
  def checks(): Unit = {
    for (u <- r.input("check_users.txt").map(_(0).toLong)) {
      val recs = Serving.recommendationsLookup(s, dir, u).collect().map(_.toSeq).toSeq
      val books = Serving.userBooksLookup(s, dir, u).collect().map(_.toSeq).toSeq
      r.check(s"page recommendations of user $u = Recommend.recommendKnn") {
        recs == Recommend.recommendKnn(s, dir, u).collect().map(_.toSeq).toSeq
      }
      r.check(s"page books of user $u = Recommend.userRatedBooks") {
        books == Recommend.userRatedBooks(s, dir, u).collect().map(_.toSeq).toSeq
      }
      r.check(s"cypher recommendations of user $u = page recommendations") {
        Serve.cypherRecs(s, dir, u).collect().map(_.toSeq).toSeq == recs
      }
    }
    r.oracle("serving") = Canon.serving(s, dir)
  }
}

object Serve {
  /** `ReferenceQueries.RecommendKnn` through `CypherLite.run`, over the
    * reference graph bound to the requested user's SIMILAR_TO edges. */
  def cypherRecs(s: SparkSession, dir: String, user: Long): DataFrame =
    CypherLite.run(ReferenceQueries.graph(s, dir, user = user),
      ReferenceQueries.RecommendKnn, Map("userId" -> user))
}

/** The write side of `online`: seeded rating batches (zeros included)
  * folded into the serving state through the incremental merges. */
final class Ingest(r: Run, tables: (String, String)) {
  import Ingest._
  private val s = r.spark
  private val dir = r.dir
  private val batches = r.input("ingest.txt").groupBy(_(0).toInt).toSeq.sortBy(_._1)
    .map(_._2.map(a => (a(1).toLong, a(2).toLong, a(3).toLong)).toSeq)
  private val allBooks = Tables.part(s, dir)
    .select(col("p_partkey").as("book_id"), col("p_name").as("title")).localCheckpoint()
  private val nUsers = RatingsGraph.ratings(s, dir).select("user_id").distinct().count().toDouble
  private var st = State(s.table(tables._1), RatingsGraph.cooccurrenceEdges(s, dir),
    RatingsGraph.ratings(s, dir), s.table(tables._2))
  private var applied = 0

  /** Fold the next batch in and read its users back; (ms from hand-off
    * until they are readable, ms per read). */
  private def step(traced: Boolean): (Double, Seq[Double]) = {
    val b = applied
    val rows = batches(b)
    val delta = s.createDataFrame(rows.map { case (u, k, x) => Row(u, k, x) }.asJava, EventSchema)
    Trace.request(b.toLong, traced) {
      val h = r.now
      r.op(s"ingest batch $b") {
        st = Trace.span("ingest.batch") { merge(st, delta, allBooks) }
      }
      applied += 1
      val reads = rows.filter(_._3 != 0).map(_._1).distinct.take(ReadUsers).map { u =>
        val t = r.now
        r.op(s"read back user $u after batch $b") {
          Trace.span("ingest.read") {
            st.recs.filter(col("user_id") === u).collect()
            st.books.filter(col("user_id") === u).collect()
          }
        }
        (r.now - t) / 1e6
      }
      val fresh = (r.now - h) / 1e6
      if (traced) {
        // the merge's blast radius, off the clock: the batch's users and
        // their co-occurrence neighbours are the ones rebuilt
        val du = delta.filter(col("rating") =!= 0).select("user_id").distinct()
        val affected = du.union(st.cooc.join(du.select(col("user_id").as("u2")), Seq("u2"),
          "left_semi").select(col("u1").as("user_id"))).distinct().count()
        Trace.count("merge.affected_users", affected.toDouble)
        Trace.count("merge.affected_frac", affected / nUsers)
      }
      (fresh, reads)
    }
  }

  /** The first batch, off the clock: it pays the merge path's warm-up. */
  def warm(): Unit = step(traced = false): Unit

  def measure(n: Int): Unit = {
    val t0 = r.now
    val runs = (1 to n).map(i => step(r.traced && i % 2 == 1))
    val secs = (r.now - t0) / 1e9
    val fresh = runs.map(_._1 / 1e3)
    r.endToEnd("fresh_s") = Stats.median(fresh)
    r.detail("ingest_fresh_s") = fresh
    r.detail("ingest_batch_events") = batches.head.size
    r.layers("ingest.events_per_s") = n * batches.head.size / secs
    r.layers("ingest.read_ms") = Stats.median(runs.flatMap(_._2))
    r.layers("merge.cooc_s") = r.spanS("merge.cooc")
    r.layers("merge.recs_s") = r.spanS("merge.recs")
    r.layers("merge.books_s") = r.spanS("merge.books")
    r.layers("merge.affected_users") = r.countMedian("merge.affected_users")
    r.layers("merge.affected_frac") = r.countMedian("merge.affected_frac")
  }

  /** The merged state against a full rebuild on the merged ratings,
    * through the engine's own batch path (the ratings silver read from
    * the merged frame). */
  def checks(): Unit = {
    val merged = Canon.digests(st.ratings, st.cooc, st.recs, st.books)
    st.ratings.createOrReplaceTempView("perfbench_merged_ratings")
    s.conf.set(RatingsGraph.SilverTableConf, "perfbench_merged_ratings")
    try {
      val ratings = RatingsGraph.ratings(s, dir)
      val cooc = RatingsGraph.cooccurrenceEdges(s, dir)
      val books = RatingsGraph.ratedBooks(s, dir)
      r.check("merged co-occurrence = co-occurrence rebuilt on the merged ratings") {
        Stats.digest(Canon.cooc(cooc)) == merged("cooc")
      }
      r.check("merged recommendations = Serving.recommendationsPayload on the merged ratings") {
        Stats.digest(Canon.recs(Serving.recommendationsPayload(ratings, cooc, books))) ==
          merged("recs")
      }
      r.check("merged user books = Serving.userBooksPayload on the merged ratings") {
        Stats.digest(Canon.books(Serving.userBooksPayload(ratings, books))) == merged("books")
      }
    } finally s.conf.unset(RatingsGraph.SilverTableConf)
    r.oracle("merged") = merged + ("ingest_batches" -> applied)
  }
}

object Ingest {
  val ReadUsers = 3  // touched users read back per batch

  val EventSchema = StructType(Seq(StructField("user_id", LongType),
    StructField("book_id", LongType), StructField("rating", LongType)))

  final case class State(recs: DataFrame, cooc: DataFrame, ratings: DataFrame, books: DataFrame)

  /** One batch through both incremental merges, materialised, with the
    * lineage cut so plans do not grow from batch to batch. */
  def merge(st: State, delta: DataFrame, books: DataFrame): State = {
    // the merge's own jobs (it checkpoints the affected users) count
    // with the co-occurrence merge
    val (recs, cooc, ratings) = Trace.span("merge.cooc") {
      val m = Serving.mergeRecommendationsServing(st.recs, st.cooc, st.ratings, delta, books)
      m._2.persist().count(); m._3.persist().count()
      m
    }
    Trace.span("merge.recs") { recs.persist().count() }
    val ub = Serving.mergeUserBooksServing(st.books, st.ratings, delta, books)
    Trace.span("merge.books") { ub.persist().count() }
    val out = State(recs.localCheckpoint(), cooc.localCheckpoint(),
      ratings.localCheckpoint(), ub.localCheckpoint())
    Seq(recs, cooc, ratings, ub).foreach(_.unpersist())
    out
  }
}

/** `batch`: the batch jobs, cold, as a scheduled job runs them in a fresh
  * process: raw tables to complete recommendation artifacts (ratings →
  * co-occurrence → FastRP → KNN → Louvain → serving tables), then the
  * pre-training text corpus (quality report, the composed corpus
  * pipeline, MinHash pairs) and the IVF vector index. Then ad-hoc queries
  * off the fresh artifacts: Louvain-community and embedding-KNN
  * recommendations for seeded users, and vector top-k for seeded ids. */
object Batch {
  val MinQueries = 24
  val QueryShare = 0.75  // of the run's seconds, after the builds

  def graph(s: SparkSession, dir: String): Unit = Trace.span("pipeline.build") {
    Layers.ratings(s, dir)
    Layers.cooc(s, dir)
    Trace.span("fastrp.build") { FastRP.userEmbeddings(s, dir).count() }
    val knn = Trace.span("knn.build") { Algorithms.userKnnEdges(s, dir).count() }
    Trace.count("knn.edges", knn.toDouble)
    Trace.span("louvain.build") { Louvain.userCommunities(s, dir).count() }
    Layers.recsTable(s, dir)
    Layers.booksTable(s, dir)
  }

  /** The text batch; returns the kept ids, packed ids and MinHash pairs
    * for the wrapper's oracle. */
  def corpus(s: SparkSession, dir: String): Map[String, Any] = Trace.span("corpus.build") {
    val kept = Trace.span("text.quality") { TextOps.qualityFilter(s, dir).collect() }
    val packed = Trace.span("text.corpus_pipeline") { TextOps.corpusPipeline(s, dir).collect() }
    val pairs = Trace.span("dedup.minhash") { Dedup.minhashPairs(s, dir).collect() }
    Trace.count("dedup.pairs", pairs.length.toDouble)
    Trace.span("ann.index") { AnnSearch.ivfAssignment(s, dir).count() }
    Map("quality" -> kept.map(_.getLong(0)).toSeq,
      "packed" -> packed.map(_.getLong(0)).toSeq,
      "pairs" -> pairs.map(p => Seq(p.getLong(0), p.getLong(1), p.getDouble(2))).toSeq)
  }

  def run(r: Run): Unit = {
    val dir = r.dir
    val users = r.input("pipeline.txt").map(_(0).toLong)
    val vectors = r.input("corpus.txt").map(_(0).toLong)
    r.setup(3) { s =>
      Layers.openInputs(s, dir,
        Seq("lineitem", "orders", "customer", "part", "documents", "embeddings"))
    }
    val s = r.spark
    r.mark("setup")
    r.beginPhase()
    val s0 = r.snap()
    val t0 = r.now
    r.op("graph pipeline build") { graph(s, dir) }
    val t1 = r.now
    val text = r.op("text corpus build") { corpus(s, dir) }.getOrElse(Map.empty)
    val t2 = r.now
    r.engine("spark", s0, 1)
    r.mark("builds")
    // analysts querying the fresh artifacts: `cores` clients, closed loop
    val lat = new ConcurrentLinkedQueue[(Int, Double, Boolean)]()
    // recommended book ids per user, checked against the user's ratings
    val recommended = new ConcurrentLinkedQueue[(Long, Seq[Long])]()
    val next = new AtomicInteger(0)
    val q0 = r.now
    val end = q0 + (r.seconds * QueryShare * 1e9).toLong
    val clients = (0 until r.cores).map { _ =>
      val t = new Thread(() => {
        var k = next.getAndIncrement()
        while (k < MinQueries || r.now < end) {
          val traced = r.traced && k % 6 < 3
          val q = r.now
          Trace.request(k.toLong, traced) { query(r, s, k, users, vectors, recommended) }
          lat.add((k % 3, (r.now - q) / 1e6, traced))
          k = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    clients.foreach(_.join())
    val querySecs = (r.now - q0) / 1e9
    r.endPhase()
    val samples = lat.asScala.toSeq
    r.latencies(samples.map(x => (x._2, x._3)))
    val secs = (t2 - t0) / 1e9
    r.endToEnd("fresh_s") = secs
    r.endToEnd("work_per_s") = samples.size / querySecs
    r.detail("queries") = samples.size
    r.detail("graph_build_s") = (t1 - t0) / 1e9
    r.detail("corpus_build_s") = (t2 - t1) / 1e9
    r.detail("query_clients") = r.cores
    r.detail("p50_ms_by_kind") = Seq("community", "knn_embedding", "ivf").zipWithIndex.map {
      case (n, i) => n -> Stats.median(samples.filter(_._1 == i).map(_._2))
    }.toMap

    r.layers("pipeline.total_s") = (t1 - t0) / 1e9
    r.layers("corpus.total_s") = (t2 - t1) / 1e9
    Layers.report(r)
    Seq("fastrp.build_s" -> "fastrp.build", "knn.build_s" -> "knn.build",
      "louvain.build_s" -> "louvain.build", "text.quality_s" -> "text.quality",
      "text.corpus_pipeline_s" -> "text.corpus_pipeline", "dedup.minhash_s" -> "dedup.minhash",
      "ann.index_s" -> "ann.index")
      .foreach { case (m, sp) => r.layers(m) = r.spanS(sp) }
    r.layers("recommend.community_ms") = r.spanMs("recommend.community")
    r.layers("recommend.knn_embedding_ms") = r.spanMs("recommend.knn_embedding")
    r.layers("ann.ivf_ms") = r.spanMs("ann.ivf")
    r.layers("knn.edges") = r.countMedian("knn.edges")
    r.layers("dedup.pairs") = r.countMedian("dedup.pairs")
    r.mark("queries")
    val (_, (ivfRecall, answers)) = Par.both(graphChecks(r, s, recommended.asScala.toSeq),
      recall(r, s))
    r.layers("ann.ivf_recall") = ivfRecall
    r.oracle("ann") = answers
    r.oracle("corpus") = text
    r.mark("checks")
  }

  /** Query k: community recommendations, embedding recommendations or a
    * vector top-k, in turn. */
  private def query(r: Run, s: SparkSession, k: Int, users: Array[Long], vectors: Array[Long],
      recommended: ConcurrentLinkedQueue[(Long, Seq[Long])]): Unit = {
    val dir = r.dir
    val u = users(k / 3 % users.length)
    (k % 3: @annotation.switch) match {
      case 0 =>
        r.op(s"community recommendations of user $u") {
          Trace.span("recommend.community") {
            Recommend.recommendCommunityLouvain(s, dir, u).collect()
          }
        }.foreach(rows => recommended.add(u -> rows.map(_.getLong(0)).toSeq))
      case 1 =>
        r.op(s"embedding recommendations of user $u") {
          Trace.span("recommend.knn_embedding") {
            Recommend.recommendKnnEmbedding(s, dir, u).collect()
          }
        }.foreach(rows => recommended.add(u -> rows.map(_.getLong(0)).toSeq))
      case _ =>
        val id = vectors(k / 3 % vectors.length)
        r.op(s"ivf top-k of vector $id") {
          Trace.span("ann.ivf") { AnnSearch.ivfTopK(s, dir, id).collect() }
        }
    }
  }

  /** What holds for any correct build: KNN edges within top-k and cutoff,
    * one canonical Louvain label per node, recommendations that skip
    * rated books; and the serving tables for the wrapper's oracle. */
  private def graphChecks(r: Run, s: SparkSession, recommended: Seq[(Long, Seq[Long])]): Unit = {
    val dir = r.dir
    val knn = Algorithms.userKnnEdges(s, dir).select("src", "dst", "similarity").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    r.check("knn edges: no self loops, at most 20 per user, similarity in [0.1, 1]") {
      knn.forall { case (a, b, sim) => a != b && sim >= 0.1 && sim <= 1.000001 } &&
        knn.groupBy(_._1).values.forall(_.length <= 20)
    }
    val comm = Louvain.userCommunities(s, dir).select("node_id", "community").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val label = comm.toMap
    r.layers("louvain.communities") = label.values.toSet.size.toDouble
    r.check("louvain: every co-occurrence node labelled once, by a member's id") {
      val nodes = RatingsGraph.cooccurrenceEdges(s, dir).select("u1").distinct().collect()
        .map(_.getLong(0)).toSet
      label.size == comm.length && label.keySet == nodes &&
        label.values.forall(c => label.get(c).contains(c))
    }
    val ratings = RatingsGraph.ratings(s, dir)
    val users = recommended.map(_._1).distinct
    val rated = ratings.filter(col("user_id").isin(users: _*)).select("user_id", "book_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    r.check("recommendations skip the user's rated books") {
      recommended.forall { case (u, books) => books.forall(b => !rated((u, b))) }
    }
    r.oracle("serving") = Canon.serving(s, dir)
  }

  /** Recall@10 of the IVF search against exact search, off the clock, and
    * both answers for the wrapper, which recomputes every cosine. */
  private def recall(r: Run, s: SparkSession): (Double, Seq[Map[String, Any]]) = {
    var hit = 0
    var total = 0
    val answers = r.input("recall.txt").map(_(0).toLong).toSeq.map { id =>
      val exact = AnnSearch.bruteForceTopK(s, r.dir, id).collect()
        .map(x => (x.getLong(0), x.getDouble(1)))
      val ivf = AnnSearch.ivfTopK(s, r.dir, id).collect().map(x => (x.getLong(0), x.getDouble(1)))
      r.check(s"ivf top-k of vector $id: 10 distinct vectors, not the query") {
        ivf.map(_._1).distinct.length == 10 && !ivf.exists(_._1 == id)
      }
      hit += ivf.map(_._1).toSet.intersect(exact.map(_._1).toSet).size
      total += exact.length
      Map("query" -> id, "exact" -> exact.toSeq, "ivf" -> ivf.toSeq)
    }
    (if (total == 0) Double.NaN else hit.toDouble / total, answers)
  }
}

object Par {
  /** Run `a` and `b` on two threads and return both results; rethrows the
    * first failure. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val fb = new java.util.concurrent.FutureTask[B](() => b)
    val t = new Thread(fb)
    t.start()
    val ra = try a finally t.join()
    (ra, fb.get())
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.DedupOps
import graft.graph.GraphOps
import graft.pipeline.Erkg
import graft.queries.{NlpQueries, SenzingQueries, TextQueries}
import graft.text.{EntityLinking, TextOps}

/** A property the collected output of a layer call must have: None when
  * it holds, otherwise what is wrong. */
object LayerCall { type Check = (SparkSession, String, Array[Row]) => Option[String] }

/** `warmup`: run once untimed before the timed layer calls, for calls that
  * build write-once artifacts no query of the workload has built. */
final case class LayerCall(name: String, fn: Main.Builder, check: Option[LayerCall.Check] = None,
                           warmup: Boolean = false)

final case class Workload(name: String, queries: Seq[String], layerCalls: Seq[LayerCall])

/** The benchmark's workloads: the queries each pass runs (names from
  * `graft.SparkEntry.queries`) and, in the traced run, the layer calls and
  * cumulative stage prefixes timed beside them. */
object Workloads {

  /** The paper's path plus the iterative graph layer: Senzing scan, 2-hop
    * closure and alias report (q98), gazetteer mentions (q33) and label
    * propagation's fixpoint loop (q85). Many small jobs: planning and
    * scheduling set the time. The traced run adds the q98 and q79 stage
    * prefixes, the gazetteer and Aho-Corasick calls and every GraphOps
    * loop. */
  val erkgGraph = Workload("erkg_graph",
    Seq("q98_erkg_flagship", "q33_gazetteer_mentions", "q85_label_prop"),
    stages("q98", SenzingQueries.flagshipStages) ++
      stages("q79", NlpQueries.hybridStages) ++ Seq(
      LayerCall("text.gazetteer", gazetteer, Some(checkGazetteer)),
      LayerCall("text.ac_mentions", acMentions, Some(checkAcMentions))) ++
      GraphCalls.all)

  /** Corpus dedup and the write side over the seeded documents replica:
    * exact-Jaccard pairs (q22), the embedding artifact's CDC maintenance,
    * which rewrites bucketed tables every pass (q232), and a stateful
    * session-window stream replay over `events` (q95). The traced run adds
    * the q116/q226 stage prefixes (quality, MinHash dedup, decontamination,
    * packing) and the Jaccard and MinHash calls. */
  val corpusRefresh = Workload("corpus_refresh",
    Seq("q22_jaccard_pairs", "q232_embed_maintenance", "q95_stream_session_late"),
    stages("q116", TextQueries.flagshipStages.take(2)) ++
      stages("q226", TextQueries.releaseStages.slice(4, 6)).map(_.copy(warmup = true)) ++
      stages("q226", TextQueries.releaseStages.slice(7, 9), Some(checkPacked)) ++ Seq(
      LayerCall("dedup.jaccard",
        (s, d) => DedupOps.jaccardPairsPrefix(Tables.documents(s, d), "doc_id", "text", 3, 0.5),
        Some(checkJaccard)),
      LayerCall("dedup.minhash",
        (s, d) => DedupOps.minhashSignatureRows(Tables.documents(s, d), "doc_id", "text", 3, 32),
        Some(checkMinhash))))

  val all: Seq[Workload] = Seq(erkgGraph, corpusRefresh)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))

  /** Cumulative stage prefixes as layer calls named `<query>.<stage>`. The
    * optional check applies to the last stage of the slice. */
  private def stages(q: String, st: Seq[(String, Main.Builder)],
                     lastCheck: Option[LayerCall.Check] = None): Seq[LayerCall] =
    st.zipWithIndex.map { case ((n, fn), i) =>
      LayerCall(s"$q.$n", fn, if (i == st.size - 1) lastCheck else None)
    }

  /** Per-layer seconds as (metric, layer call, previous stage prefix or
    * ""): a stage's own cost is its cumulative prefix minus the previous.
    * q98's s2_closure re-reads the export for its edge list rather than
    * extending s1_scan's entity table, so graph.khop_s is the whole
    * s2_closure prefix. */
  val layerSeconds: Seq[(String, String, String)] = Seq(
    ("sources.senzing_s", "q98.s1_scan", ""),
    ("graph.khop_s", "q98.s2_closure", ""),
    ("pipeline.report_s", "q98.s3_report", "q98.s2_closure"),
    ("text.prior_cosine_s", "q79.sA_prior_cosine", ""),
    ("text.fuzzy_s", "q79.sAB_plus_fuzzy", "q79.sA_prior_cosine"),
    ("text.bm25_s", "q79.sABC_plus_bm25", "q79.sAB_plus_fuzzy"),
    ("text.gazetteer_s", "text.gazetteer", ""),
    ("text.ac_mentions_s", "text.ac_mentions", ""),
    ("text.decontam_s", "q226.s6_bloom_decontam", "q226.s5_artifact_canonical"),
    ("text.pack_s", "q226.s9_pack", "q226.s8_temperature_mix"),
    ("dedup.stage_s", "q116.s2_dedup", "q116.s1_quality"),
    ("dedup.jaccard_s", "dedup.jaccard", ""),
    ("dedup.minhash_s", "dedup.minhash", "")) ++
    GraphCalls.algs.map(a => (s"graph.${a}_s", s"graph.$a", ""))

  // ---- erkg_link layer calls ---------------------------------------------

  /** The q33 alias observations: each lineitem's part-name tokens. */
  private def aliasObs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .select(explode(TextOps.tokens(col("p_name"))).as("alias"), col("p_partkey").as("entity"))

  private def gazetteer(s: SparkSession, d: String): DataFrame =
    EntityLinking.gazetteer(aliasObs(s, d), "alias", "entity", 8)

  /** At most 8 candidates per alias, priors in (0, 1] summing to at most 1. */
  private def checkGazetteer(s: SparkSession, d: String, rows: Array[Row]): Option[String] = {
    val bad = rows.groupBy(_.getAs[String]("alias")).filter { case (_, rs) =>
      val p = rs.map(_.getAs[Double]("prior"))
      rs.length > 8 || p.sum > 1.0 + 1e-9 || p.exists(_ <= 0)
    }
    if (rows.isEmpty) Some("empty gazetteer")
    else if (bad.isEmpty) None else Some(s"${bad.size} aliases out of bounds, e.g. ${bad.head._1}")
  }

  private def acPatterns(s: SparkSession, d: String): (Seq[String], Seq[Int]) = {
    val gaz = EntityLinking.phraseGazetteer(EntityLinking.ngramSpans(Tables.documents(s, d), 3), 30)
      .select(col("surface"), col("entity")).collect()
    (gaz.map(_.getString(0)).toSeq, gaz.map(r => r.get(1).toString.toInt).toSeq)
  }

  private def acMentions(s: SparkSession, d: String): DataFrame = {
    val (surfaces, entities) = acPatterns(s, d)
    EntityLinking.acMentionSpans(Tables.documents(s, d), surfaces, entities)
  }

  private def tokens(text: String): Array[String] = text.trim.split("\\s+").filter(_.nonEmpty)

  private def texts(s: SparkSession, d: String): Map[Long, String] =
    Tables.documents(s, d).select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Every span is a pattern of the automaton, with that pattern's entity
    * and word length, found at its position in the document's tokens. */
  private def checkAcMentions(s: SparkSession, d: String, rows: Array[Row]): Option[String] = {
    val (surfaces, entities) = acPatterns(s, d)
    val entityOf = surfaces.zip(entities).toMap
    val docs = texts(s, d).map { case (k, t) => k -> tokens(t) }
    val bad = rows.filterNot { r =>
      val (doc, pos, len) = (r.getAs[Long]("doc_id"), r.getAs[Int]("pos"), r.getAs[Int]("len"))
      val surface = r.getAs[String]("surface")
      entityOf.get(surface).contains(r.getAs[Any]("entity").toString.toInt) &&
        surface.split(" ").length == len &&
        docs(doc).slice(pos, pos + len).mkString(" ") == surface
    }
    if (rows.isEmpty) Some("no mentions")
    else if (bad.isEmpty) None else Some(s"${bad.length} spans disagree with the patterns, e.g. ${bad.head}")
  }

  // ---- corpus_refresh layer calls ----------------------------------------

  private def shingleSet(text: String): Set[String] =
    tokens(text).sliding(3).filter(_.length == 3).map(_.mkString("|")).toSet

  /** Every reported pair reaches the 0.5 threshold, recomputed here from
    * the two texts, and equals the reported similarity. */
  private def checkJaccard(s: SparkSession, d: String, rows: Array[Row]): Option[String] = {
    val text = texts(s, d)
    val bad = rows.filterNot { r =>
      val (a, b) = (shingleSet(text(r.getAs[Long]("da"))), shingleSet(text(r.getAs[Long]("db"))))
      val j = (a & b).size.toDouble / (a | b).size
      j >= 0.5 && math.abs(j - r.getAs[Double]("jaccard")) < 1e-9
    }
    if (rows.isEmpty) Some("no pairs")
    else if (bad.isEmpty) None else Some(s"${bad.length} of ${rows.length} pairs fail, e.g. ${bad.head}")
  }

  /** One 32-slot signature per document that has a 3-shingle. */
  private def checkMinhash(s: SparkSession, d: String, rows: Array[Row]): Option[String] = {
    val expected = texts(s, d).filter { case (_, t) => shingleSet(t).nonEmpty }.keySet
    val ids = rows.map(_.getAs[Long]("doc_id"))
    val sigCol = rows.headOption.flatMap(_.schema.fieldNames.find(_ != "doc_id"))
    val wrongLen = sigCol.fold(0)(c => rows.count(_.getAs[scala.collection.Seq[Any]](c).length != 32))
    if (ids.toSet != expected || ids.length != expected.size || wrongLen > 0)
      Some(s"${ids.length} rows for ${ids.toSet.size} docs, $wrongLen bad lengths; expected ${expected.size} docs")
    else None
  }

  /** No packed sequence exceeds its 512-token budget. */
  private def checkPacked(s: SparkSession, d: String, rows: Array[Row]): Option[String] = {
    val over = rows.groupBy(_.getAs[Long]("bin")).count { case (_, rs) =>
      rs.map(_.getAs[Long]("len")).sum > 512 ||
        rs.exists(r => r.getAs[Long]("off_in_bin") + r.getAs[Long]("len") > 512)
    }
    if (rows.isEmpty) Some("nothing packed")
    else if (over == 0) None else Some(s"$over bins exceed 512 tokens")
  }
}

/** graph_iterate's layer calls: each GraphOps loop over `Erkg.entityEdges`,
  * checked against the property its method must have. */
object GraphCalls {
  val algs: Seq[String] =
    Seq("components", "pagerank", "ppr", "hits", "labelprop", "bfs", "sssp", "harmonic")

  /** Rounds of every loop: enough to show per-round cost, few enough to
    * keep the traced run short. */
  private val rounds = 4
  private val maxHops = 4

  private def edges(s: SparkSession, d: String) = Erkg.entityEdges(s, d)
  private def weighted(s: SparkSession, d: String) =
    edges(s, d).withColumn("cost", (col("src") + col("dst")) % 3 + 1)

  private def call(n: String): Main.Builder = n match {
    case "components" => (s, d) => GraphOps.connectedComponents(s, edges(s, d))
    case "pagerank" => (s, d) => GraphOps.pageRankDeterministic(edges(s, d), rounds)
    case "ppr" => (s, d) => GraphOps.personalizedPageRankDeterministic(edges(s, d), Erkg.seeds(s, d), rounds)
    case "hits" => (s, d) => GraphOps.hitsDeterministic(
      edges(s, d).filter(col("src") < Erkg.supplierOffset), rounds)
    case "labelprop" => (s, d) => GraphOps.labelPropagation(edges(s, d), rounds)
    case "bfs" => (s, d) => GraphOps.bfsDistances(edges(s, d), Erkg.seeds(s, d), maxHops)
    case "sssp" => (s, d) => GraphOps.ssspWeighted(weighted(s, d), Erkg.seeds(s, d), maxHops)
    case "harmonic" => (s, d) => GraphOps.harmonicCentrality(edges(s, d), Erkg.suspiciousNetwork(s, d), maxHops)
  }

  private def edgeList(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select(col("src").cast("long"), col("dst").cast("long"),
      (if (df.columns.contains("cost")) col("cost") else lit(1L)).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def seedIds(s: SparkSession, d: String): Set[Long] =
    Erkg.seeds(s, d).select(col("id").cast("long")).collect().map(_.getLong(0)).toSet

  /** Bounded relaxation over the collected edge list: the minimum cost of
    * any walk of at most `rounds` edges from a seed. */
  private def boundedDistances(es: Seq[(Long, Long, Long)], seeds: Set[Long],
                               rounds: Int): Map[Long, Long] =
    (1 to rounds).foldLeft(seeds.map(_ -> 0L).toMap) { (dist, _) =>
      es.foldLeft(dist) { case (acc, (u, v, w)) =>
        dist.get(u) match {
          case Some(du) if acc.get(v).forall(_ > du + w) => acc.updated(v, du + w)
          case _ => acc
        }
      }
    }

  private def sumCheck(rows: Array[Row], c: String): Option[String] = {
    val total = rows.map(_.getAs[Double](c)).sum
    if (math.abs(total - 1.0) < 1e-6) None else Some(s"sum($c) = $total, not 1")
  }

  /** Distances equal the bounded relaxation, are 0 exactly on the seeds,
    * and every edge (u, v) satisfies d(v) <= d'(u) + w(u, v), where d'(u)
    * is the least cost of a walk of fewer than `maxHops` edges to u (with
    * d(u) itself, whose walk may already use all `maxHops` edges, the
    * inequality need not hold). */
  private def distanceCheck(rows: Array[Row], distCol: String,
                            es: Seq[(Long, Long, Long)], seeds: Set[Long]): Option[String] = {
    val got = rows.map(r => r.getAs[Any]("id").toString.toLong -> r.getAs[Any](distCol).toString.toLong).toMap
    val shorter = boundedDistances(es, seeds, maxHops - 1)
    val violated = es.count { case (u, v, w) =>
      shorter.get(u).exists(du => got.get(v).forall(_ > du + w))
    }
    if (got != boundedDistances(es, seeds, maxHops)) Some("differs from the bounded relaxation")
    else if (got.exists { case (v, dv) => seeds(v) != (dv == 0) }) Some("distance 0 off the seeds")
    else if (violated > 0) Some(s"$violated edges violate d(v) <= d'(u) + w(u,v)")
    else None
  }

  private def check(n: String): LayerCall.Check = (s, d, rows) => n match {
    case "components" =>
      // every edge's ends share a label, and the labels are the union-find
      // components' least vertex ids
      val label = rows.map(r => r.getAs[Any]("id").toString.toLong -> r.getAs[Any]("component").toString.toLong).toMap
      val es = edgeList(edges(s, d))
      val split = es.count { case (u, v, _) => label.get(u) != label.get(v) }
      val uf = UnionFind.leastIds(es.map { case (u, v, _) => (u, v) })
      if (split > 0) Some(s"$split edges join vertices with different component labels")
      else if (label != uf) Some(s"${label.size} labels differ from the union-find's ${uf.size}")
      else None
    case "pagerank" | "ppr" => sumCheck(rows, "rank")
    case "hits" => sumCheck(rows, "hub").orElse(sumCheck(rows, "auth"))
    case "labelprop" =>
      val ids = rows.map(_.getAs[Any]("id").toString).toSet
      val stray = rows.count(r => !ids(r.getAs[Any]("label").toString))
      if (stray == 0) None else Some(s"$stray labels are not vertex ids")
    case "bfs" => distanceCheck(rows, "dist", edgeList(edges(s, d)), seedIds(s, d))
    case "sssp" => distanceCheck(rows, "cost", edgeList(weighted(s, d)), seedIds(s, d))
    case "harmonic" =>
      val neg = rows.count(r => r.getAs[Any]("n_reached").toString.toDouble < 0 ||
        r.getAs[Any]("harmonic_fp").toString.toDouble < 0)
      if (neg == 0) None else Some(s"$neg negative harmonic scores")
  }

  val all: Seq[LayerCall] = algs.map(a => LayerCall(s"graph.$a", call(a), Some(check(a))))
}

/** Connected components of an edge list by union-find, each vertex
  * labelled with the least id of its component. */
object UnionFind {
  def leastIds(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }
}

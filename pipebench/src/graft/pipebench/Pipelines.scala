package graft.pipebench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.consensus.{DedupSpec, EncDeduplicater}
import graft.core.SessionHygiene
import graft.linkage.{Clustering, PersonMatching}
import graft.linkage.PersonMatching.MatchConfig
import graft.normalize.Processing
import graft.sources.Csv
import graft.unpack.Unpack

/** Outcome of one output check: construction invariants plus a digest. */
final case class Check(ok: Boolean, digest: String, detail: String, stats: Map[String, Double])

/** One workload: inputs generated from the seed and materialized, the
  * pipeline through its public entry points, and the output check.
  */
trait Workload {
  def name: String
  /** Input records, the numerator of `records_per_s`. */
  def records: Long
  def props: Corpus.Props
  /** Layers in call order; the last one's output goes to the sink. */
  def layers: Seq[String]
  /** Untimed warm-up between the cold job and the measured ones, in
    * seconds (at least one job): the JIT keeps compiling for several more
    * jobs, and its compile queue drains at a rate set by time, not by jobs.
    */
  def warmupSeconds: Double
  def run(t: Tracer): DataFrame
  def check(out: DataFrame): Check
  /** Traced run only, after the check and before the release: counts
    * that need the job's live state.
    */
  def tracedCounts(out: DataFrame, t: LiveTracer): Map[String, Double] = Map.empty
  /** Traced run only, after the release: side jobs (exact pair counts)
    * and the kernel microbench.
    */
  def sideCounts(): Map[String, Double] = Map.empty
  def drop(): Unit
}

object Workloads {
  val names: Seq[String] = Seq("enc_dedup", "person_match", "person_cluster")

  /** Input sizes. Chosen so a warm job takes a few seconds on four cores. */
  val EncDocuments = 1000
  val MatchTargets = 32000
  val MatchQueries = 8000
  val ClusterEntities = 5000

  def setup(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "enc_dedup"      => new EncDedup(spark, seed)
    case "person_match"   => new PersonMatch(spark, seed)
    case "person_cluster" => new PersonCluster(spark, seed)
  }

  /** Materialize an input frame outside any job: the pipelines read it
    * from the block manager, the way a cached stage input is read.
    */
  def materialize(df: DataFrame): DataFrame = {
    val m = df.localCheckpoint(eager = true)
    m.count()
    m
  }

  def unpersist(df: DataFrame): Unit =
    SessionHygiene.checkpointRdds(df).foreach(_.unpersist(blocking = true))

  // ---- output digest ------------------------------------------------------

  private def render(v: Any): String = v match {
    case null => "NULL"
    case d: Double =>
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case o => o.toString
  }

  /** Row-sorted hash over sorted columns: the shape of `tools/check.py`
    * `frame_hash`, so row order and column order do not matter.
    */
  def digest(rows: Seq[Row], columns: Seq[String]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(0x1e.toByte) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  private[pipebench] val personSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("strGName_processed", StringType),
    StructField("strLName_processed", StringType),
    StructField("strDoB_processed", StringType),
    StructField("strPoB_processed", StringType),
    StructField("prisoner_number", StringType)))

  private[pipebench] def personFrame(spark: SparkSession, ps: Seq[Corpus.Person], idCol: String): DataFrame =
    spark.createDataFrame(
      ps.map(p => Row(p.id, p.gname, p.lname, p.dob, p.pob, p.prisoner)).asJava,
      personSchema).withColumnRenamed("id", idCol)

  /** Candidate pairs of a blocking config, each scored; a fixed sample of
    * them feeds the kernel microbench. Returns (candidates, pairs at or
    * above `minScore`, kernel metrics).
    */
  private[pipebench] def pairStats(src: DataFrame, trg: DataFrame, cfg: MatchConfig,
      pred: org.apache.spark.sql.Column): (Long, Long, Kernel.Result) = {
    val all = PersonMatching.scoredPairs(src, trg, cfg.copy(minScore = -1.0), pred)
      .localCheckpoint(eager = true)
    try {
      val counts = all.agg(count(lit(1)), sum(when(col("score") >= cfg.minScore, 1L).otherwise(0L)))
        .head()
      val n = counts.getLong(0)
      val kept = if (counts.isNullAt(1)) 0L else counts.getLong(1)
      def fields(df: DataFrame, id: String, p: String) = df.select(col(id),
        col("strGName_processed").as(s"${p}g"), col("strLName_processed").as(s"${p}l"),
        col("strDoB_processed").as(s"${p}d"), col("strPoB_processed").as(s"${p}p"),
        col("prisoner_number").as(s"${p}n"))
      val sample = all.select("srcID", "trgID")
        .orderBy(xxhash64(col("srcID"), col("trgID")), col("srcID"), col("trgID"))
        .limit(Kernel.SampleSize)
        .join(fields(src, "srcID", "s"), "srcID").join(fields(trg, "trgID", "t"), "trgID")
        .collect()
        .sortBy(r => (r.getAs[Long]("srcID"), r.getAs[Long]("trgID")))
        .map { r =>
          def p(x: String) = graft.similarity.Similarity.Person(
            r.getAs[String](s"${x}g"), r.getAs[String](s"${x}l"), r.getAs[String](s"${x}d"),
            r.getAs[String](s"${x}p"), r.getAs[String](s"${x}n"))
          (p("s"), p("t"))
        }
      (n, kept, Kernel.measure(sample))
    } finally unpersist(all)
  }
}

import Workloads._

// ---- enc_dedup ------------------------------------------------------------

/** SURVEY §3.1: unpack → normalize → consensus dedup over crowd
  * transcriptions, with the production `DedupSpec` shape.
  */
final class EncDedup(spark: SparkSession, seed: Long) extends Workload {
  val name = "enc_dedup"
  private val corpus = Corpus.enc(seed, EncDocuments)
  val props: Corpus.Props = corpus.props
  val records: Long = corpus.rows.size.toLong
  val layers = Seq("unpack", "normalize", "consensus")
  val warmupSeconds = 10.0

  private val raw = materialize(spark.createDataFrame(
    corpus.rows.map(r => Row(r.rowId, r.workflow, r.document, r.json)).asJava,
    StructType(Seq(StructField("row_id", LongType), StructField("workflow_id", StringType),
      StructField("document_id", StringType), StructField("json_data", StringType)))))

  private val spec = DedupSpec(
    idCol = "document_id",
    personCols = Seq("first_name_cleaned_0", "first_name_cleaned_1", "last_name_cleaned_0"),
    dateCols = Seq(
      "birthdate_day_cleaned", "birthdate_month_cleaned", "birthdate_year_cleaned",
      "imprisonment_day_cleaned", "imprisonment_month_cleaned", "imprisonment_year_cleaned"),
    otherCols = Seq(
      "imprisonment_camp_cleaned", "place_of_birth_0_cleaned", "place_of_birth_1_cleaned"),
    otherStrictCols = (0 to 5).map(i => s"prisoner_category_${i}_cleaned"),
    metadataCols = Seq("workflow_id"))

  private var normalized: DataFrame = _

  def run(t: Tracer): DataFrame = {
    val unpacked = t.span("unpack.call") {
      Unpack.unpack(raw, "json_data",
        additionalSplitsOn = c => c.contains("category"), splitRe = "[\\|;,\\s]")
    }
    val u = t.boundary("unpack", unpacked)
    // the stage boundary's NA reading ("None" cells become missing) is
    // part of what the normalize stage is handed
    val n = t.boundary("normalize", t.span("normalize.call") {
      Processing.processUnpackedData(Csv.pandasNaToNull(u),
        skipColumns = Set("workflow_id", "document_id"))
    })
    normalized = n
    t.span("consensus.call")(EncDeduplicater.run(n, spec))
  }

  def check(out: DataFrame): Check = {
    val byDeleted = out.groupBy(col("deleted")).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val cons = out.filter(col("deleted") === false).drop("object_id")
    val rows = cons.collect().toSeq
    val docIdx = cons.columns.indexOf("document_id")
    val ambIdx = cons.columns.indexOf("is_ambiguous")
    val docs = rows.map(_.getString(docIdx))
    val ambiguous = rows.filter(_.getBoolean(ambIdx)).map(_.getString(docIdx))
    val cleanAmbiguous = ambiguous.count(corpus.cleanDocuments.contains)
    val problems = Seq(
      (docs.size == corpus.documents && docs.distinct.size == corpus.documents) ->
        s"consensus rows ${docs.size} (distinct ${docs.distinct.size}) for ${corpus.documents} documents",
      (byDeleted.getOrElse(true, 0L) == records) ->
        s"raw rows ${byDeleted.getOrElse(true, 0L)} for $records transcriptions",
      (cleanAmbiguous == 0) -> s"$cleanAmbiguous unanimous documents came out ambiguous")
      .collect { case (false, msg) => msg }
    Check(problems.isEmpty, digest(rows, cons.columns.toSeq), problems.mkString("; "),
      Map("consensus.docs" -> docs.size.toDouble,
        "consensus.ambiguous_ratio" -> ambiguous.size.toDouble / math.max(1, docs.size),
        "consensus.rows_out" -> byDeleted.values.sum.toDouble))
  }

  override def tracedCounts(out: DataFrame, t: LiveTracer): Map[String, Double] = {
    val qa = normalized.columns.filter(_.endsWith("_qa"))
    val qaTrue = if (qa.isEmpty) 0L else {
      val r = normalized.agg(qa.map(c => sum(when(col(c).cast("boolean"), 1L).otherwise(0L))).head,
        qa.tail.map(c => sum(when(col(c).cast("boolean"), 1L).otherwise(0L))).toSeq: _*).head()
      (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).sum
    }
    Map("normalize.qa_true" -> qaTrue.toDouble)
  }

  def drop(): Unit = unpersist(raw)
}

// ---- person_match -----------------------------------------------------------

/** SURVEY §3.3: a batch of noisy records matched top-10 at `minScore = 80`
  * against a larger reference table.
  */
final class PersonMatch(spark: SparkSession, seed: Long) extends Workload {
  val name = "person_match"
  private val corpus = Corpus.personMatch(seed, MatchTargets, MatchQueries)
  val props: Corpus.Props = corpus.props
  val records: Long = MatchQueries.toLong
  val layers = Seq("match")
  val warmupSeconds = 8.0
  private val cfg = MatchConfig(topN = 10, minScore = 80.0)
  private val src = materialize(personFrame(spark, corpus.queries, "srcID"))
  private val trg = materialize(personFrame(spark, corpus.targets, "trgID"))

  def run(t: Tracer): DataFrame =
    t.span("match.call")(PersonMatching.personMatching(src, trg, cfg))

  def check(out: DataFrame): Check = {
    val rows = out.select("srcID", "score", "trgID").collect().toSeq
    val bySrc = rows.groupBy(_.getLong(0))
    val unmatched = rows.count(_.isNullAt(2))
    val missingSrc = corpus.queries.count(q => !bySrc.contains(q.id))
    val overTop = bySrc.count(_._2.size > cfg.topN)
    val lost = corpus.truth.count { case (s, tid) =>
      !bySrc.getOrElse(s, Nil).exists(r => !r.isNullAt(2) && r.getLong(2) == tid)
    }
    val problems = Seq(
      (missingSrc == 0) -> s"$missingSrc queries absent from the output",
      (overTop == 0) -> s"$overTop queries with more than ${cfg.topN} matches",
      (lost == 0) -> s"$lost in-bound queries lack their true match in the top ${cfg.topN}")
      .collect { case (false, msg) => msg }
    val rounded = rows.map(r => Row(r.get(0), if (r.isNullAt(1)) null
      else java.lang.Double.valueOf(BigDecimal(r.getDouble(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
      r.get(2)))
    Check(problems.isEmpty, digest(rounded, Seq("srcID", "score", "trgID")), problems.mkString("; "),
      Map("match.unmatched" -> unmatched.toDouble, "match.rows_out" -> rows.size.toDouble))
  }

  override def tracedCounts(out: DataFrame, t: LiveTracer): Map[String, Double] = Map(
    "match.candidate_pairs" -> SessionHygiene.observedLong(
      PersonMatching.lastCandidateObservation, "candidate_pairs").toDouble,
    "match.cap_dropped" -> PersonMatching.lastDropObservationsBySide.values
      .map(o => SessionHygiene.observedLong(o, "dropped_bucket_rows")).sum.toDouble)

  override def sideCounts(): Map[String, Double] = {
    val (n, kept, k) = pairStats(src, trg, cfg, lit(true))
    Map("match.kept_ratio" -> kept.toDouble / math.max(1L, n),
      "kernel.pair_ns" -> k.nsPerPair, "kernel.equal_share" -> k.equalShare)
  }

  def drop(): Unit = { unpersist(src); unpersist(trg) }
}

// ---- person_cluster ---------------------------------------------------------

/** SURVEY §3.2: `Clustering.cluster` with the production config over a
  * twin-heavy set of transcriptions.
  */
final class PersonCluster(spark: SparkSession, seed: Long) extends Workload {
  val name = "person_cluster"
  private val corpus = Corpus.personCluster(seed, ClusterEntities)
  val props: Corpus.Props = corpus.props
  val records: Long = corpus.rows.size.toLong
  val layers = Seq("cluster")
  val warmupSeconds = 10.0
  private val cfg = Clustering.ClusterConfig(cutoff = 85.0, linkage = "max")
  val MaxIter = 25 // Clustering.connectedComponents' default
  private val persons = materialize(personFrame(spark, corpus.rows, "id"))

  def run(t: Tracer): DataFrame =
    t.span("cluster.call")(Clustering.cluster(persons, cfg, knownKeyCol = Some("prisoner_number")))

  def check(out: DataFrame): Check = {
    val rows = out.select("id", "cluster_id").collect().toSeq
    val rounds = Clustering.lastCcRounds
    val converged = Clustering.lastCcConverged
    val byCluster = rows.groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0))).toMap
    val mixed = byCluster.count(_._2.map(corpus.entityOf).distinct.size > 1)
    val components = rows.groupBy(_.getString(1).takeWhile(_ != '_'))
    val problems = Seq(
      (rows.size == records && rows.map(_.getLong(0)).distinct.size == records) ->
        s"${rows.size} rows for $records inputs",
      (byCluster.size == corpus.entities && mixed == 0) ->
        s"${byCluster.size} clusters ($mixed mixing entities) for ${corpus.entities} entities",
      (converged && rounds < MaxIter) ->
        s"connected components converged=$converged after $rounds rounds (maxIter $MaxIter)")
      .collect { case (false, msg) => msg }
    Check(problems.isEmpty, digest(rows, Seq("id", "cluster_id")), problems.mkString("; "),
      Map("cluster.cc_rounds" -> rounds.toDouble, "cluster.components" -> components.size.toDouble,
        "cluster.max_component" -> components.values.map(_.size).maxOption.getOrElse(0).toDouble,
        "cluster.rows_out" -> rows.size.toDouble))
  }

  override def tracedCounts(out: DataFrame, t: LiveTracer): Map[String, Double] = Map(
    "cluster.candidate_pairs" -> SessionHygiene.observedLong(
      PersonMatching.lastCandidateObservation, "candidate_pairs").toDouble)

  override def sideCounts(): Map[String, Double] = {
    val (n, kept, k) = pairStats(persons.withColumnRenamed("id", "srcID"),
      persons.withColumnRenamed("id", "trgID"),
      MatchConfig(idxChars = cfg.idxChars, lenUnits = cfg.lenUnits, topN = Int.MaxValue,
        minScore = cfg.cutoff), col("srcID") < col("trgID"))
    Map("cluster.edges" -> kept.toDouble, "cluster.kept_ratio" -> kept.toDouble / math.max(1L, n),
      "kernel.pair_ns" -> k.nsPerPair, "kernel.equal_share" -> k.equalShare)
  }

  def drop(): Unit = unpersist(persons)
}

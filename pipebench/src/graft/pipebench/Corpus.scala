package graft.pipebench

import scala.util.Random

/** Seeded synthetic inputs for the three pipelines. Everything is derived
  * from the seed alone: names come from a syllable generator, so no
  * external vocabulary is read. Each generator also records the input
  * properties an optimisation depends on ([[Props]]).
  */
object Corpus {

  /** Input properties printed with every run. */
  final case class Props(values: Seq[(String, String)]) {
    def render: String = values.map { case (k, v) => s"$k=$v" }.mkString(" ")
  }

  // ---- syllable names --------------------------------------------------

  private val Onsets = Array("b", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
    "t", "v", "w", "z", "br", "dr", "fr", "gr", "kr", "pr", "st", "tr", "sch", "ch", "sp",
    "kl", "bl", "gl", "j", "sl")
  private val Vowels = Array("a", "e", "i", "o", "u", "ei", "au", "ie", "a", "e", "o")
  private val Codas = Array("", "", "", "", "n", "r", "l", "s", "t", "m", "ck", "nd", "rt",
    "ns", "ld", "rg")
  // ENC names carry German spellings so the umlaut noise has targets
  private val EncVowels = Vowels ++ Array("ü", "ö", "ä", "ue", "oe")

  private def syllable(r: Random, vowels: Array[String]): String =
    Onsets(r.nextInt(Onsets.length)) + vowels(r.nextInt(vowels.length)) +
      Codas(r.nextInt(Codas.length))

  /** A lowercase word of `minSyl..maxSyl` syllables, at least `minLen` chars. */
  def word(r: Random, minSyl: Int, maxSyl: Int, minLen: Int = 4,
      vowels: Array[String] = Vowels): String = {
    var w = ""
    while (w.length < minLen) {
      val n = minSyl + r.nextInt(maxSyl - minSyl + 1)
      w = (0 until n).map(_ => syllable(r, vowels)).mkString
    }
    w
  }

  private def capitalize(s: String): String =
    if (s.isEmpty) s else s.substring(0, 1).toUpperCase + s.substring(1)

  /** `n` distinct words. */
  private def pool(r: Random, n: Int, minSyl: Int, maxSyl: Int,
      vowels: Array[String] = Vowels): Array[String] = {
    val seen = collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += word(r, minSyl, maxSyl, 4, vowels)
    seen.toArray
  }

  /** `n` distinct words to be drawn by Zipf rank, `top` of them first:
    * each of the `top` first ranks gets a blocking key (as
    * [[bucketKeys]] makes it) that no other word of the pool has. The top
    * ranks carry most of the draws, so they make the largest buckets; with
    * keys of their own, how many candidate pairs the blocking yields does
    * not depend on which frequent words the seed happens to put in one
    * bucket (two seeds differed by 60% in candidate pairs without this).
    */
  private def rankedPool(r: Random, n: Int, top: Int, minSyl: Int, maxSyl: Int,
      idxChars: Int, lenUnits: Int): Array[String] = {
    def key(w: String) = bucketKeys(w, idxChars, lenUnits).head
    val topByKey = collection.mutable.LinkedHashMap.empty[String, String]
    while (topByKey.size < top) {
      val w = word(r, minSyl, maxSyl)
      if (!topByKey.contains(key(w))) topByKey(key(w)) = w
    }
    val seen = collection.mutable.LinkedHashSet.empty[String] ++ topByKey.values
    while (seen.size < n) {
      val w = word(r, minSyl, maxSyl)
      if (!topByKey.contains(key(w))) seen += w
    }
    seen.toArray
  }

  /** Zipf(s) sampler over ranks `0 until n`. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
    /** Share of draws that land on the most frequent rank. */
    def topShare: Double = cdf(0)
  }

  /** One-letter substitution at a position `>= from` (never a space), so
    * the name's blocking key (its prefix and its length band) is unchanged.
    */
  def typo(r: Random, s: String, from: Int): String =
    if (s.length <= from || !s.substring(from).exists(_ != ' ')) s
    else {
      var i = from + r.nextInt(s.length - from)
      while (s.charAt(i) == ' ') i = from + r.nextInt(s.length - from)
      var c = s.charAt(i)
      while (c == s.charAt(i)) c = ('a' + r.nextInt(26)).toChar
      s.substring(0, i) + c + s.substring(i + 1)
    }

  private def digitTypo(r: Random, s: String): String = {
    val i = r.nextInt(s.length)
    var c = s.charAt(i)
    while (c == s.charAt(i)) c = ('0' + r.nextInt(10)).toChar
    s.substring(0, i) + c + s.substring(i + 1)
  }

  private def dob(r: Random, y0: Int, y1: Int): (Int, Int, Int) =
    (y0 + r.nextInt(y1 - y0 + 1), 1 + r.nextInt(12), 1 + r.nextInt(28))

  private def packed(d: (Int, Int, Int)): String = f"${d._1}%04d${d._2}%02d${d._3}%02d"

  /** Distinct prisoner numbers, 5 or 6 digits. */
  private def prisonerNumbers(r: Random, n: Int): Array[String] = {
    val seen = collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += (10000 + r.nextInt(890000)).toString
    r.shuffle(seen.toVector).toArray
  }

  private def median(xs: Seq[Int]): Int =
    if (xs.isEmpty) 0 else xs.sorted.apply(xs.size / 2)

  // ---- blocking keys (PersonMatching.bucketKeys on the [a-z ] domain) ----

  def bucketKeys(name: String, idxChars: Int, lenUnits: Int): Seq[String] =
    if (name == null) Nil
    else name.replaceAll("[^a-z\\s]", "").split(" ").toSeq.filter(_.nonEmpty)
      .map(s => s"${s.take(idxChars)}|${s.length / lenUnits}")

  /** Largest and median composite (first-name, last-name) bucket size. */
  def bucketSizes(rows: Seq[(String, String)], idxChars: Int, lenUnits: Int): (Int, Int) = {
    val counts = collection.mutable.HashMap.empty[(String, String), Int]
    for ((g, l) <- rows; fb <- bucketKeys(g, idxChars, lenUnits);
         lb <- bucketKeys(l, idxChars, lenUnits))
      counts((fb, lb)) = counts.getOrElse((fb, lb), 0) + 1
    val sizes = counts.values.toSeq
    (if (sizes.isEmpty) 0 else sizes.max, median(sizes))
  }

  // ---- person records ----------------------------------------------------

  /** A person in the `*_processed` domain the linkage layer expects. */
  final case class Person(id: Long, gname: String, lname: String, dob: String,
      pob: String, prisoner: String)

  // ---- person_match ------------------------------------------------------

  // MatchConfig's default blocking keys: 2-char prefix, length band of 4
  private val MatchIdxChars = 2
  private val MatchLenUnits = 4
  /** Name ranks with a blocking key of their own (see [[rankedPool]]). */
  private val TopRanks = 50

  final case class MatchCorpus(
      targets: Vector[Person], queries: Vector[Person],
      truth: Map[Long, Long], props: Props)

  /** A clean reference table and a batch of noisy queries. `inBound` of
    * the queries are noisy copies of a target; their noise leaves the
    * blocking keys intact, so the copied target is the query's known true
    * match. The rest are new people drawn from the same name pools.
    * Surnames, given names and birthplaces are Zipf-distributed.
    */
  def personMatch(seed: Long, nTargets: Int, nQueries: Int,
      inBoundShare: Double = 0.7): MatchCorpus = {
    val r = new Random(seed)
    val surnames = rankedPool(r, 3000, TopRanks, 2, 3, MatchIdxChars, MatchLenUnits)
    val given = rankedPool(r, 500, TopRanks, 1, 3, MatchIdxChars, MatchLenUnits)
    val towns = pool(r, 400, 2, 3)
    val zl = new Zipf(surnames.length, 1.0)
    val zg = new Zipf(given.length, 0.9)
    val zt = new Zipf(towns.length, 1.0)
    val numbers = prisonerNumbers(r, nTargets + nQueries)
    def fresh(id: Long, k: Int): Person = {
      val g = if (r.nextDouble() < 0.15) s"${given(zg.sample(r))} ${given(zg.sample(r))}"
              else given(zg.sample(r))
      Person(id, g, surnames(zl.sample(r)), packed(dob(r, 1880, 1930)),
        towns(zt.sample(r)), numbers(k))
    }
    val targets = Vector.tabulate(nTargets)(i => fresh(i.toLong, i))
    var ops = Map.empty[String, Int].withDefaultValue(0)
    val truth = Map.newBuilder[Long, Long]
    val queries = Vector.tabulate(nQueries) { i =>
      val id = 1000000L + i
      if (r.nextDouble() >= inBoundShare) fresh(id, nTargets + i)
      else {
        val t = targets(r.nextInt(nTargets))
        truth += id -> t.id
        // one or two noise operations, at most one of them on a name
        var q = t.copy(id = id)
        val n = 1 + r.nextInt(2)
        val kinds = r.shuffle(Vector("dob",
          if (r.nextBoolean()) "prisoner_drop" else "prisoner_typo", "pob_drop"))
        val nameOp = if (r.nextBoolean()) Seq(if (r.nextBoolean()) "gname" else "lname") else Nil
        for (k <- (nameOp ++ kinds).take(n)) {
          ops += k -> (ops(k) + 1)
          q = k match {
            case "gname" => q.copy(gname = typo(r, q.gname, 2))
            case "lname" => q.copy(lname = typo(r, q.lname, 2))
            case "dob" =>
              val y = q.dob.take(4).toInt + (if (r.nextBoolean()) 1 else -1)
              q.copy(dob = f"$y%04d" + q.dob.drop(4))
            case "prisoner_drop" => q.copy(prisoner = null)
            case "prisoner_typo" => q.copy(prisoner = digitTypo(r, q.prisoner))
            case "pob_drop" => q.copy(pob = null)
          }
        }
        q
      }
    }
    val t = truth.result()
    val byTarget = targets.map(p => p.id -> p).toMap
    val equal = queries.count(q => t.get(q.id).exists(tid => byTarget(tid).copy(id = q.id) == q))
    val (bMax, bMed) = bucketSizes(targets.map(p => (p.gname, p.lname)), MatchIdxChars,
      MatchLenUnits)
    val props = Props(Seq(
      "targets" -> nTargets.toString, "queries" -> nQueries.toString,
      "in_bound_share" -> f"${t.size.toDouble / nQueries}%.3f",
      "byte_equal_share" -> f"${equal.toDouble / nQueries}%.4f",
      "surname_top_share" -> f"${zl.topShare}%.4f",
      "bucket_max" -> bMax.toString, "bucket_median" -> bMed.toString) ++
      ops.toSeq.sorted.map { case (k, v) => s"noise.$k" -> f"${v.toDouble / nQueries}%.3f" })
    MatchCorpus(targets, queries, t, props)
  }

  // ---- person_cluster ----------------------------------------------------

  final case class ClusterCorpus(rows: Vector[Person], entityOf: Map[Long, Int],
      entities: Int, props: Props)

  /** `fuzz.ratio` on lowercase single words: the normalized InDel
    * similarity, `100 * (1 - indel / (|a| + |b|))`. Computed here from the
    * LCS so the construction does not lean on the library's kernels.
    */
  def ratio(a: String, b: String): Double = {
    if (a.isEmpty && b.isEmpty) return 100.0
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      for (j <- 1 to b.length)
        cur(j) = if (a(i - 1) == b(j - 1)) prev(j - 1) + 1 else math.max(prev(j), cur(j - 1))
      System.arraycopy(cur, 0, prev, 0, cur.length)
    }
    100.0 * 2 * prev(b.length) / (a.length + b.length)
  }

  /** Entities with 1–4 transcriptions each. Most transcriptions are
    * byte-equal twins of their entity; a minority carry one noise
    * operation that leaves the clustering blocking keys intact. Names are
    * a stem from a small pool plus a free tail, so entities share blocking
    * buckets and the self-join scores cross-entity pairs too. Whenever two
    * entities share a bucket, every pair of their transcriptions has a
    * name score (mean of the two name ratios) below 70. Person similarity
    * folds the name score in at weight 1/2 (2/3 x 3/4), so such a pair
    * scores below 2/3·70·3/4 + 50 = 85 whatever its other fields say:
    * no cross-entity pair reaches the cutoff, and the expected clustering
    * is the entity partition.
    */
  def personCluster(seed: Long, nEntities: Int, noiseShare: Double = 0.3,
      idxChars: Int = 4, lenUnits: Int = 2): ClusterCorpus = {
    val r = new Random(seed)
    val gStems = pool(r, 12, 1, 2)
    val lStems = pool(r, 16, 1, 2)
    val towns = pool(r, 300, 2, 3)
    val zt = new Zipf(towns.length, 1.0)
    val numbers = prisonerNumbers(r, nEntities)
    // composite bucket -> names of the transcriptions already placed there
    val placed = collection.mutable.HashMap.empty[(String, String), List[(String, String)]]
    def key(p: Person) =
      (bucketKeys(p.gname, idxChars, lenUnits).head, bucketKeys(p.lname, idxChars, lenUnits).head)
    def nameScore(a: Person, b: (String, String)): Double =
      (ratio(a.gname, b._1) + ratio(a.lname, b._2)) / 2
    var resampled = 0
    var ops = Map.empty[String, Int].withDefaultValue(0)
    def noisy(b: Person): Person =
      if (r.nextDouble() >= noiseShare) b
      else {
        val k = Seq("gname", "lname", "dob_swap", "prisoner_drop")(r.nextInt(4))
        ops += k -> (ops(k) + 1)
        k match {
          case "gname" => b.copy(gname = typo(r, b.gname, idxChars))
          case "lname" => b.copy(lname = typo(r, b.lname, idxChars))
          case "dob_swap" => b.copy(dob = b.dob.take(4) + b.dob.substring(6, 8) + b.dob.substring(4, 6))
          case _ => b.copy(prisoner = null)
        }
      }
    val entityRows = Vector.tabulate(nEntities) { e =>
      val u = r.nextDouble()
      val n = if (u < 0.2) 1 else if (u < 0.55) 2 else if (u < 0.85) 3 else 4
      val d = packed(dob(r, 1880, 1930))
      val pob = towns(zt.sample(r))
      var copies: IndexedSeq[Person] = null
      var ok = false
      while (!ok) {
        val b = Person(e.toLong, gStems(r.nextInt(gStems.length)) + word(r, 1, 2, 2),
          lStems(r.nextInt(lStems.length)) + word(r, 1, 2, 2), d, pob, numbers(e))
        copies = (0 until n).map(_ => noisy(b))
        val k = key(b)
        val others = placed.getOrElse(k, Nil)
        ok = copies.forall(c => others.forall(o => nameScore(c, o) < 70))
        if (ok) placed(k) = copies.map(c => (c.gname, c.lname)).toList ++ others
        else resampled += 1
      }
      copies
    }
    val all = entityRows.flatten.zipWithIndex.map { case (p, i) => p.copy(id = i.toLong) }
    val entityOf = entityRows.zipWithIndex
      .flatMap { case (cs, e) => cs.map(_ => e) }.zipWithIndex
      .map { case (e, i) => i.toLong -> e }.toMap
    val twins = entityRows.map(cs => cs.count(c => cs.count(_ == c) > 1)).sum
    val (bMax, bMed) = bucketSizes(all.map(p => (p.gname, p.lname)), idxChars, lenUnits)
    val props = Props(Seq(
      "entities" -> nEntities.toString, "rows" -> all.size.toString,
      "transcriptions_per_entity" -> f"${all.size.toDouble / nEntities}%.3f",
      "byte_equal_twin_share" -> f"${twins.toDouble / all.size}%.3f",
      "name_resamples" -> resampled.toString,
      "bucket_max" -> bMax.toString, "bucket_median" -> bMed.toString) ++
      ops.toSeq.sorted.map { case (k, v) => s"noise.$k" -> f"${v.toDouble / all.size}%.3f" })
    ClusterCorpus(all, entityOf, nEntities, props)
  }

  // ---- enc_dedup ---------------------------------------------------------

  final case class EncRow(rowId: Long, workflow: String, document: String, json: String)

  final case class EncCorpus(rows: Vector[EncRow], documents: Int,
      cleanDocuments: Set[String], props: Props)

  private final case class Doc(
      categories: Seq[String], prisoner: String,
      impYear: String, impMonth: String, impDay: String, camp: String,
      places: Seq[String], birthYear: String, birthMonth: String, birthDay: String,
      firstNames: Seq[String], lastName: String)

  private def js(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c => c.toString
    } + "\""

  private def group(name: String, entries: Seq[Seq[(String, String)]]): String =
    s""""${name}_repeat":[""" + entries.map(e =>
      e.map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString("{", ",", "}")).mkString(",") + "]"

  /** The reference's seven repeat groups, in the `raw_enc_data.csv` order. */
  private def render(d: Doc): String = Seq(
    group("prisoner_category", d.categories.map(c => Seq("prisoner_category" -> c))),
    group("prisoner_number", Seq(Seq("prisoner_number" -> d.prisoner))),
    group("imprisonment", Seq(Seq("imprisonment_year" -> d.impYear,
      "imprisonment_month" -> d.impMonth, "imprisonment_day" -> d.impDay,
      "imprisonment_camp" -> d.camp))),
    group("place_of_birth", d.places.map(p => Seq("place_of_birth" -> p))),
    group("birthdate", Seq(Seq("birthdate_year" -> d.birthYear,
      "birthdate_month" -> d.birthMonth, "birthdate_day" -> d.birthDay))),
    group("first_name", d.firstNames.map(f => Seq("first_name" -> f))),
    group("last_name", Seq(Seq("last_name" -> d.lastName)))).mkString("{", ",", "}")

  private val Umlauts = Seq("ü" -> "ue", "ö" -> "oe", "ä" -> "ae")

  /** `documents` × `perDoc` crowd transcriptions, one JSON repeat-group
    * blob per row. A `noisyShare` minority of transcriptions carries one
    * or two noise operations: title prefixes, case changes, umlaut
    * spellings, missing fields and `Unklar` markers. Documents whose
    * transcriptions are all clean are recorded: their consensus can never
    * be ambiguous.
    */
  def enc(seed: Long, documents: Int, perDoc: Int = 3, noisyShare: Double = 0.3): EncCorpus = {
    val r = new Random(seed)
    val surnames = pool(r, 1500, 2, 3, EncVowels).map(capitalize)
    val given = pool(r, 400, 1, 2, EncVowels).map(capitalize)
    val towns = pool(r, 300, 2, 3, EncVowels).map(capitalize)
    val camps = Array("Auschwitz", "Buchenwald", "Dachau", "Sachsenhausen", "Ravensbrück",
      "Neuengamme", "Flossenbürg", "Mauthausen")
    val zl = new Zipf(surnames.length, 1.0)
    val zg = new Zipf(given.length, 0.9)
    val zt = new Zipf(towns.length, 1.0)
    val numbers = prisonerNumbers(r, documents)
    def two(n: Int) = f"$n%02d"
    def twoDistinct(draw: => String): Seq[String] = {
      val a = draw
      var b = draw
      while (b == a) b = draw
      Seq(a, b)
    }
    val rows = Vector.newBuilder[EncRow]
    val clean = Set.newBuilder[String]
    var ops = Map.empty[String, Int].withDefaultValue(0)
    var twins = 0
    var rowId = 0L
    for (d <- 0 until documents) {
      val docId = f"do_$d%06d"
      val wf = f"wo_${d % 7}%03d"
      // document 0 carries the widest repeat arities, noise-free and with
      // distinct values (the unpacker dedupes single-field groups), so the
      // production DedupSpec's numbered columns exist at every seed
      val wide = d == 0
      val nCat = if (wide) 6 else if (r.nextDouble() < 0.7) 1 else 1 + r.nextInt(6)
      val base = Doc(
        categories = r.shuffle((1 to 7).toVector).take(nCat).map(_.toString),
        prisoner = numbers(d),
        impYear = (1939 + r.nextInt(7)).toString, impMonth = two(1 + r.nextInt(12)),
        impDay = two(1 + r.nextInt(28)), camp = camps(r.nextInt(camps.length)),
        places = if (wide || r.nextDouble() < 0.15) twoDistinct(towns(zt.sample(r)))
                 else Seq(towns(zt.sample(r))),
        birthYear = (1880 + r.nextInt(51)).toString, birthMonth = two(1 + r.nextInt(12)),
        birthDay = two(1 + r.nextInt(28)),
        firstNames = if (wide || r.nextDouble() < 0.2) twoDistinct(given(zg.sample(r)))
                     else Seq(given(zg.sample(r))),
        lastName = surnames(zl.sample(r)))
      val transcriptions = (0 until perDoc).map { _ =>
        if (wide || r.nextDouble() >= noisyShare) base
        else {
          var t = base
          for (_ <- 0 until 1 + r.nextInt(2)) {
            val k = Seq("title", "case", "umlaut", "missing", "unklar")(r.nextInt(5))
            ops += k -> (ops(k) + 1)
            t = k match {
              case "title" =>
                val p = Seq("Dr. ", "Dr.", "Prof. ")(r.nextInt(3))
                if (r.nextBoolean()) t.copy(lastName = p + t.lastName)
                else t.copy(firstNames = (p + t.firstNames.head) +: t.firstNames.tail)
              case "case" =>
                if (r.nextBoolean()) t.copy(lastName = t.lastName.toUpperCase)
                else t.copy(firstNames = t.firstNames.map(_.toLowerCase))
              case "umlaut" =>
                val swapped = Umlauts.foldLeft(t.lastName) { case (s, (u, e)) =>
                  if (s.contains(u)) s.replace(u, e) else s.replace(e, u) }
                t.copy(lastName = if (swapped == t.lastName) t.lastName + "e" else swapped)
              case "missing" => r.nextInt(3) match {
                case 0 => t.copy(birthDay = null, birthMonth = null)
                case 1 => t.copy(places = Seq(null))
                case _ => t.copy(impDay = null)
              }
              case _ =>
                if (r.nextBoolean()) t.copy(camp = "Unklar") else t.copy(places = Seq("unklar"))
            }
          }
          t
        }
      }
      val json = transcriptions.map(render)
      twins += json.count(j => json.count(_ == j) > 1)
      if (transcriptions.forall(_ == base)) clean += docId
      json.foreach { j =>
        rows += EncRow(rowId, wf, docId, j)
        rowId += 1
      }
    }
    val all = rows.result()
    val props = Props(Seq(
      "documents" -> documents.toString, "transcriptions_per_document" -> perDoc.toString,
      "rows" -> all.size.toString,
      "byte_equal_twin_share" -> f"${twins.toDouble / all.size}%.3f",
      "surname_top_share" -> f"${zl.topShare}%.4f") ++
      ops.toSeq.sorted.map { case (k, v) => s"noise.$k" -> f"${v.toDouble / all.size}%.3f" })
    EncCorpus(all, documents, clean.result(), props)
  }
}

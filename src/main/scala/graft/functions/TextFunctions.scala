package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Result of [[TextFunctions.bigramStats]]: bigram count + distinct
  * count in one compiled pass (the repetition-gate signals). */
case class BigramStats(nBigrams: Long, nDistinct: Long)

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language-ID, and document
  * fingerprinting. All pure column expressions (no UDFs) — they run inside
  * whole-stage codegen and scale linearly with no shuffle.
  */
object TextFunctions {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish token count: runs of letters, runs of digits, or any single
    * non-space symbol. */
  def bpeIshTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[0-9]+|\\S"), lit(0)))

  /** Map-only decontamination filter: keep documents sharing fewer than
    * `minShared` distinct 3-gram shingles with the benchmark shingle
    * set, which ships as a plan literal (benchmark sets are small —
    * thousands of docs — so the union shingle set broadcasts with the
    * plan). Pure projection + filter, so the SAME code path runs over a
    * batch frame and over a readStream micro-batch: stream-static
    * decontamination-on-ingest with zero state and zero shuffle.
    * Union-set semantics (vs x14's per-eval-doc pair counts): a doc is
    * dropped when its total overlap with the whole benchmark reaches
    * the threshold — strictly more conservative. */
  def deconSurvivors(docs: org.apache.spark.sql.DataFrame,
                     evalShingles: Seq[String], minShared: Int): org.apache.spark.sql.DataFrame = {
    val overlap = overlapCounter(docs.sparkSession, evalShingles)
    docs
      .withColumn("n_shared", overlap(shingles(col("text"), 3)))
      .filter(col("n_shared") < minShared)
      .select(col("doc_id"), col("n_shared"))
  }

  /** x28's chunker as a reusable stateless transform: fixed
    * `window`-token slices at `stride` (overlap = window - stride),
    * ragged last window, and no start that would yield a chunk fully
    * contained in its predecessor (starts stop at max(n - overlap, 1)).
    * Pure tokenize → explode-of-starts → slice: zero state, zero
    * shuffle, so the SAME code path chunks a batch corpus and a
    * readStream micro-batch (append mode) — documents become
    * embedding-ready chunks on arrival. */
  def chunkWindows(docs: org.apache.spark.sql.DataFrame,
                   window: Int = 32, stride: Int = 24): org.apache.spark.sql.DataFrame = {
    val overlap = window - stride
    docs
      .select(col("doc_id"), split(col("text"), " ", -1).as("ts"))
      .select(col("doc_id"), col("ts"),
        explode(sequence(lit(0),
          greatest(size(col("ts")) - overlap - 1, lit(0)), lit(stride))).as("st"))
      .select(col("doc_id"),
        (col("st") / stride).cast("long").as("chunk_id"),
        array_join(slice(col("ts"), col("st") + 1, lit(window)), " ")
          .as("chunk_text"),
        size(slice(col("ts"), col("st") + 1, lit(window))).cast("long")
          .as("n_chunk_tokens"))
  }

  /** Distinct-overlap count against a broadcast benchmark shingle set:
    * one shared hash set per executor, O(|doc shingles|) per row. The
    * previous plan-literal `array_intersect(s, typedLit(es))` rebuilt a
    * hash set of the WHOLE benchmark per row (O(|es|) each — 18 s at
    * sf0.1 for x16; this form is ~1 s). Input arrays are pre-distinct
    * (shingles()), so membership count = distinct intersection size. */
  def overlapCounter(spark: org.apache.spark.sql.SparkSession,
                     evalShingles: Seq[String]): Column => Column = {
    val bc = spark.sparkContext.broadcast(evalShingles.toSet)
    val f = udf((s: Seq[String]) => if (s == null) 0L else s.count(bc.value.contains).toLong)
    (c: Column) => f(c)
  }

  /** Hashed variant for corpus-scale benchmark sets: the set ships as
    * 8-byte xxhash64 keys (16× smaller broadcast than the strings, for
    * 3-gram shingles) and the document side hashes its shingles inside
    * codegen (`transform(s, xxhash64)`). Hash equality stands in for
    * string equality exactly as in d2/x14 (collision odds ~n²/2⁶⁵).
    * Takes an `array<long>` column of pre-hashed shingles. */
  def overlapCounterHashed(spark: org.apache.spark.sql.SparkSession,
                           evalHashes: Seq[Long]): Column => Column = {
    val bc = spark.sparkContext.broadcast(evalHashes.toSet)
    val f = udf((hs: Seq[Long]) => if (hs == null) 0L else hs.count(bc.value.contains).toLong)
    (c: Column) => f(c)
  }

  /** Distinct word n-gram shingles (space-joined), the dedup unit.
    * Texts shorter than n yield one whole-text shingle (floor of 1).
    * One compiled loop per row with first-occurrence dedup order —
    * byte-identical output to the HOF formulation it replaced
    * (`array_distinct(transform(sequence…, array_join(slice…)))`),
    * which interpreted a lambda per position and was the residual
    * hotspot in every shingle-fed query (x16/d2/x14/the x18 stages). */
  def shingles(text: Column, n: Int): Column = {
    val f = udf { (t: String) =>
      if (t == null) null
      else {
        val toks = t.split(" ", -1)
        val m = math.max(toks.length - (n - 1), 1)
        val seen = new java.util.LinkedHashSet[String](m * 2)
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i < m) {
          sb.setLength(0)
          val end = math.min(i + n, toks.length)
          var j = i
          while (j < end) { sb.append(toks(j)); if (j < end - 1) sb.append(' '); j += 1 }
          seen.add(sb.toString)
          i += 1
        }
        val out = new Array[String](seen.size)
        seen.toArray(out)
        out
      }
    }
    f(text)
  }

  /** DuckDB twin of [[shingles]] over the SQL text expression `text`:
    * the distinct `n`-token windows, or the whole text when it has
    * fewer than `n` tokens. */
  def shinglesSql(text: String, n: Int): String =
    s"""list_distinct([array_to_string(string_split($text,' ')[i:i+${n - 1}], ' ')
       |           for i in range(1, greatest(len(string_split($text,' ')) - ${n - 2}, 2))])""".stripMargin

  /** Small per-language marker-word profiles (public common stopwords). */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une"),
    "es" -> Seq("el", "los", "y", "las", "que", "por", "con"),
    "de" -> Seq("der", "die", "und", "das", "den", "ist", "nicht"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "他"))

  /** N-gram/marker-word language ID: hit count per profile, argmax with
    * first-profile tie-break (deterministic). */
  def langId(text: Column): Column = {
    val ts = tokens(text)
    val scores = array(langProfiles.map { case (_, words) =>
      size(filter(ts, t => t.isin(words.map(lit(_)): _*)))
    }: _*)
    val codes = array(langProfiles.map(p => lit(p._1)): _*)
    element_at(codes, array_position(scores, array_max(scores)).cast("int"))
  }

  /** English stopword ratio (quality signal). */
  def stopwordRatio(text: Column): Column = {
    val ts = tokens(text)
    val stops = langProfiles.head._2
    size(filter(ts, t => t.isin(stops.map(lit(_)): _*))).cast("double") /
      greatest(size(ts), lit(1))
  }

  /** Mean token length (quality signal). */
  def meanTokenLen(text: Column): Column = {
    val ts = tokens(text)
    aggregate(ts, lit(0), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(ts), lit(1))
  }

  /** Winnowing fingerprints (the MOSS scheme): hash every n-gram
    * shingle, then keep the MINIMUM hash of each sliding window of `w`
    * consecutive shingles. Guarantees any shared substring of length
    * ≥ w+n−1 tokens yields a shared fingerprint, at ~1/w the storage of
    * the full shingle set — the standard local-similarity sketch for
    * plagiarism/near-dup detection. Distinct-sorted for set semantics.
    *
    * One JVM pass per document: a column-expression formulation would
    * inline the shingle-hash array into every window's slice and
    * recompute it per window (~w·|doc| string hashes — measured 80s at
    * sf0.1 vs ~1s for this UDF). */
  def winnowing(text: Column, n: Int, w: Int): Column = {
    val f = udf { (t: String) =>
      if (t == null) null
      else {
      // limit -1 keeps trailing empty tokens, matching the oracle's
      // string_split; Java's default limit 0 silently drops them
      val toks = t.split(" ", -1)
      // Engine-portable fingerprint (so the DuckDB oracle can recompute
      // it bit-for-bit): per-token char polynomial (seed 7, base 131),
      // then a token-hash polynomial per shingle (seed 0, base 99991),
      // both mod the prime 1e9+7 — every intermediate stays < 2⁵⁰, so
      // plain 64-bit integer math on both engines. Window-min selection
      // only needs hash ORDER to be uniform-ish, which a 30-bit poly
      // hash still is; the winnowing guarantee itself is hash-agnostic.
      // Portable-family precondition (also d4's char loop): chars hash
      // as UTF-16 units via charAt, which equals the codepoint the
      // oracle's ascii() returns only inside the BMP — supplementary-
      // plane text would hash as two surrogates here and one codepoint
      // there. The corpora are BMP-only; revisit if that changes.
      val P = 1000000007L
      val th = new Array[Long](toks.length)
      var ti = 0
      while (ti < toks.length) {
        val tok = toks(ti)
        var acc = 7L
        var ci = 0
        while (ci < tok.length) { acc = (acc * 131 + tok.charAt(ci)) % P; ci += 1 }
        th(ti) = acc
        ti += 1
      }
      val m = math.max(toks.length - (n - 1), 1)
      val hs = new Array[Long](m)
      var i = 0
      while (i < m) {
        var acc = 0L
        var j = i
        val end = math.min(i + n, toks.length)
        while (j < end) { acc = (acc * 99991 + th(j)) % P; j += 1 }
        hs(i) = acc
        i += 1
      }
      val nw = math.max(m - (w - 1), 1)
      val out = new Array[Long](nw)
      var j = 0
      while (j < nw) {
        var mn = Long.MaxValue
        var k = j
        val end = math.min(j + w, m)
        while (k < end) { if (hs(k) < mn) mn = hs(k); k += 1 }
        out(j) = mn
        j += 1
      }
      out.distinct.sorted
      }
    }
    f(text)
  }

  /** Add-one bigram-LM model frames for [[lmScore]]: (bigram counts,
    * unigram counts, 1-row vocabulary size) over the train corpus.
    * Train ONCE, persist, reuse across scoring passes / micro-batches —
    * the frames are vocab-sized, ≪ corpus. (x25's query trains inline
    * because the driver contract is a single DataFrame.) */
  def lmCounts(train: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val uni = train
      .select(explode(split(col("text"), " ", -1)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bi = train
      .select(explode(bigramPairs(col("text"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
    (bi, uni, vocab)
  }

  /** CCNet-style perplexity scoring against a standing bigram LM (see
    * x25_lm_perplexity for the full scheme + determinism notes): per
    * doc, the DECIMAL-summed add-one log-probability of its bigrams and
    * a kept flag for avg lp > threshold. Pure per-doc computation given
    * the LM, so a partitioned corpus — or a stream micro-batch — scores
    * identically to one batch pass. */
  def lmScore(docs: org.apache.spark.sql.DataFrame,
              bi: org.apache.spark.sql.DataFrame,
              uni: org.apache.spark.sql.DataFrame,
              vocab: org.apache.spark.sql.DataFrame,
              threshold: BigDecimal): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(bigramPairs(col("text"))).as("bg"))
      .join(bi, Seq("bg"), "left")
      .join(uni.withColumnRenamed("tok", "prev"),
            element_at(split(col("bg"), " ", 2), 1) === col("prev"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log((coalesce(col("c2"), lit(0L)) + 1).cast("double") /
                  (coalesce(col("c1"), lit(0L)) + col("v")).cast("double")), 9)
          .cast("decimal(18,9)").as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"),
           sum("lp").cast("double").as("sum_logp"),
           (sum("lp") > lit(threshold).cast("decimal(18,9)") *
             count(lit(1))).as("kept"))

  /** Corpus token-distribution frames for [[klScore]]: (per-token
    * corpus counts, 1-row (n, v) scalars). Vocab-sized; persist and
    * reuse across scoring passes / micro-batches. */
  def corpusCounts(docs: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val corpus = docs
      .select(explode(split(col("text"), " ", -1)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val gs = corpus.agg(sum("c").cast("long").as("n"), count(lit(1)).as("v"))
    (corpus, gs)
  }

  /** Smoothed KL(p_group ‖ p_corpus) per group over the full corpus
    * vocabulary grid — x27_domain_kl's scheme (see there for the
    * determinism and grid-size notes). `grouped` = (key, tok, cs)
    * token counts; returns (key, n_tokens, kl). */
  def klScore(grouped: org.apache.spark.sql.DataFrame, key: String,
              corpus: org.apache.spark.sql.DataFrame,
              gs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val stot = grouped.groupBy(key).agg(sum("cs").cast("long").as("ns"))
    stot.crossJoin(broadcast(corpus))
      .join(grouped, Seq(key, "tok"), "left")
      .crossJoin(broadcast(gs))
      .select(col(key), col("ns"),
        round(((coalesce(col("cs"), lit(0L)) + 1).cast("double") /
               (col("ns") + col("v")).cast("double")) *
              log(((coalesce(col("cs"), lit(0L)) + 1).cast("double") *
                   (col("n") + col("v")).cast("double")) /
                  ((col("ns") + col("v")).cast("double") *
                   (col("c") + 1).cast("double"))), 9)
          .cast("decimal(18,9)").as("t"))
      .groupBy(key)
      .agg(first("ns").as("n_tokens"), sum("t").cast("double").as("kl"))
  }

  /** Consecutive token pairs ("a b"), in order; <2 tokens → empty.
    * One compiled loop per row — the interpreted
    * `transform(sequence…, concat_ws(element_at…))` form it replaces
    * boxes every index through Catalyst's lambda evaluator (the
    * measured ~20× HOF gap). */
  def bigramPairs(text: Column): Column = {
    val f = udf { (t: String) =>
      if (t == null) null
      else {
      val ts = t.split(" ", -1)
      if (ts.length < 2) Array.empty[String]
      else {
        val out = new Array[String](ts.length - 1)
        var i = 0
        while (i < ts.length - 1) { out(i) = ts(i) + " " + ts(i + 1); i += 1 }
        out
      }
      }
    }
    f(text)
  }

  /** Bigram duplication stats without materializing the bigram array:
    * count + distinct count in one compiled pass. Bigram rule matches
    * x17/x18's oracles: indices 1..max(n−1,1) — a single-token doc
    * contributes its one token as its one "bigram". */
  def bigramStats(text: Column): Column = {
    val f = udf { (t: String) =>
      if (t == null) null
      else {
        val ts = t.split(" ", -1)
        val n = ts.length
        val nBg = math.max(n - 1, 1)
        val seen = new java.util.HashSet[String](nBg * 2)
        if (n == 1) seen.add(ts(0))
        else {
          var i = 0
          while (i < n - 1) { seen.add(ts(i) + " " + ts(i + 1)); i += 1 }
        }
        BigramStats(nBg.toLong, seen.size.toLong)
      }
    }
    f(text)
  }

  /** 64-bit hashes of every consecutive `n`-token gram, in position
    * order — the compiled per-doc pass behind d7's duplicated-span
    * detection. The gram key is internal to the operator (never output),
    * so an 8-byte hash replaces the md5 hex string it used to carry:
    * 4× less shuffle per key and one compiled loop instead of an
    * interpreted `transform(sequence…, md5(array_join(slice…)))` lambda
    * per position. Same double-murmur fold and collision standard
    * (~m²/2⁶⁴ over m grams) as d2's hashed shingles. ([[winnowing]]
    * instead uses an oracle-portable 30-bit polynomial: its prints are
    * OUTPUT and cross-checked by DuckDB, while these stay internal.)
    * Texts shorter than n yield an empty array (caller's posexplode
    * drops the row, matching the old `size >= n` prefilter). */
  def ngramHashes(text: Column, n: Int): Column = {
    val f = udf { (t: String) =>
      if (t == null) null
      else {
      val toks = t.split(" ", -1)
      if (toks.length < n) Array.empty[Long]
      else {
        val out = new Array[Long](toks.length - (n - 1))
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i <= toks.length - n) {
          sb.setLength(0)
          var j = i
          while (j < i + n) {
            sb.append(toks(j)); if (j < i + n - 1) sb.append(' '); j += 1
          }
          val g = sb.toString
          out(i) = (scala.util.hashing.MurmurHash3.stringHash(g, 0x9747b28c).toLong << 32) |
            (scala.util.hashing.MurmurHash3.stringHash(g, 0x5bd1e995).toLong & 0xFFFFFFFFL)
          i += 1
        }
        out
      }
      }
    }
    f(text)
  }

  /** Order-sensitive rolling polynomial fingerprint over tokens:
    * h = fold(tokens, 0) { (h, t) => (h*31 + ascii(t[0]) + len(t)) mod p }.
    * Stays in Long range (acc < p ⇒ acc*31 + x << 2^63), reproducible in
    * any engine — used for cheap shard-stable doc identity.
    */
  def rollingFingerprint(text: Column): Column = {
    val p = lit(1000000007L)
    aggregate(tokens(text), lit(0L),
      (acc, t) => (acc * 31L + ascii(t) + length(t)) % p)
  }

  /** x41's per-document repetition metrics over a (doc_id, text, ...)
    * frame — duplicate-bigram fraction and most-common-token share in
    * exact integer basis points plus the gate verdict. DOC-LOCAL (no
    * cross-document state), which is what makes the streaming gate
    * (`StreamOps.repetitionGateBatch`) the same code path: bigram stats
    * are map-only collection expressions; the top-token count is one
    * uniform (doc_id, token)-keyed shuffle within whatever frame it is
    * handed (a micro-batch streams it unchanged). */
  def repetitionMetrics(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
    val top = base.select(col("doc_id"), explode(col("ts")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("max_tok"))
    val bg = base.select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"),
        when(size(col("ts")) >= 2, expr(
          "transform(sequence(1, size(ts) - 1), " +
          "i -> concat(element_at(ts, i), ' ', element_at(ts, i + 1)))"))
          .otherwise(expr("array()")).as("bg"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("bg")).cast("long").as("nbg"),
        size(array_distinct(col("bg"))).cast("long").as("nbgd"))
    bg.join(top, "doc_id")
      .withColumn("rep2_bp",
        when(col("nbg") > 0, expr("(nbg - nbgd) * 10000L div nbg"))
          .otherwise(lit(0L)))
      .withColumn("top_tok_bp", expr("max_tok * 10000L div n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("rep2_bp"),
        col("top_tok_bp"),
        (col("rep2_bp") >= 800 || col("top_tok_bp") >= 1600).as("flagged"))
  }
}

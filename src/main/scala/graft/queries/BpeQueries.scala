package graft.queries

import scala.collection.concurrent.TrieMap

import graft.{QueryDef, Tables}
import graft.QueryDef.q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE merge-rule TRAINING (x34) and corpus ENCODING with the trained
  * table (x38) as distributed operators (x20 only counts symbol pairs;
  * these learn and APPLY the actual merge table a byte-pair-encoding
  * tokenizer ships with).
  *
  * Algorithm (classic Sennrich et al. BPE, word-level):
  *   corpus → (word, freq) vocabulary table → repeat R times:
  *   count adjacent symbol pairs weighted by word freq → take the most
  *   frequent pair (ties broken lexicographically) → merge it greedily
  *   left-to-right in every word.
  *
  * Engine-portable encoding: a word's symbol sequence is one string with
  * every symbol wrapped as \u0001·sym·\u0002. Adjacent-pair patterns are
  * contiguous substrings, and — because each symbol carries its own
  * delimiters, never shared with a neighbour — plain non-overlapping
  * left-to-right `replace(enc, enc(A)+enc(B), enc(AB))`
  * IS the greedy BPE merge fold, with identical semantics in Spark and
  * DuckDB ("b b b b" merges to "bb bb", not "bb b b" — the shared-space
  * encoding gets that wrong, this one can't). Words containing control
  * chars are excluded by the same guard on both sides.
  *
  * ENCODING equivalence (x38): the tokenizer-standard encode loop picks
  * the LOWEST-RANK pair present anywhere in the word and merges it,
  * repeating until no known pair remains. Applying the merge table
  * SEQUENTIALLY in rank order is the same function: after merge r is
  * applied everywhere, any newly created adjacency involves the new
  * symbol_r, and every merge whose operand is symbol_r has rank > r —
  * so a sequential pass can never skip a lower-rank merge that the
  * iterative loop would have taken (operands of rank i < r exist before
  * rank r by construction of a valid BPE table). That makes encode a
  * FIXED chain of R `replace` calls — pure codegen'd string ops, no
  * iteration state — which is what lets DuckDB replay it exactly.
  *
  * 100 TB shape: this is how industrial BPE trainers scale — ONE pass over
  * the corpus builds the (word, freq) table (a single shuffle on word,
  * uniform keys), and all R merge rounds iterate over that vocabulary
  * table, which is orders of magnitude smaller than the corpus (Heaps'
  * law; x31 measures it). Pair counting is a codegen'd higher-order
  * transform + a tiny agg; only the single best (pattern, count) row ever
  * reaches the driver per round — the d5/IvfAnn bounded-collect pattern.
  * `localCheckpoint` truncates lineage across rounds exactly like d5's
  * label propagation. ENCODING is map-only over the corpus: the trained
  * table rides into every task as R pattern literals (it IS the model —
  * bytes, not a DataFrame), so the only exchange in x38 is the final
  * token-frequency groupBy.
  */
object BpeQueries {

  private val Rounds = 8
  private val S = "\u0001" // symbol-open delimiter
  private val E = "\u0002" // symbol-close delimiter

  /** Trained merge table, memoized per (session, dir) like
    * PipelineQueries' stage frames: x34 and x38 share one training run
    * within a session; Caches.reset evicts so the bench never hands a
    * query a model another query paid for. */
  private val mergeCache =
    TrieMap.empty[(SparkSession, String), Seq[(Long, String, String, Long)]]

  def evictMerges(session: SparkSession): Unit =
    mergeCache.keys.filter(_._1 eq session).foreach(mergeCache.remove)

  /** One driver-side training loop; per round only the argmax (pattern,
    * count) row crosses to the driver (bounded collect). */
  private def trainMerges(s: SparkSession, dir: String)
      : Seq[(Long, String, String, Long)] =
    mergeCache.getOrElseUpdate((s, dir), {
      val words0 = Tables.load(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 2 &&
                !col("word").rlike("[\\x00-\\x1f]"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .withColumn("enc", regexp_replace(col("word"), "(.)", S + "$1" + E))
        .select("freq", "enc")
      var words = words0.localCheckpoint(eager = true)
      val merges = Seq.newBuilder[(Long, String, String, Long)]
      var r = 1
      var exhausted = false
      while (r <= Rounds && !exhausted) {
        val withSyms = words.withColumn("ss",
          split(expr("substring(enc, 2, length(enc) - 2)"), s"$E$S"))
        val pairs = withSyms.select(col("freq"),
          explode(when(size(col("ss")) >= 2, expr(
            s"transform(sequence(1, size(ss) - 1), " +
            s"i -> concat('$S', element_at(ss, i), '$E$S', element_at(ss, i + 1), '$E'))"
          )).otherwise(expr("array()"))).as("pat"))
        // only the argmax row crosses to the driver (bounded collect)
        val best = pairs.groupBy("pat").agg(sum("freq").as("cnt"))
          .orderBy(desc("cnt"), col("pat")).limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val pat = best(0).getString(0)
          val cnt = best(0).getLong(1)
          val Array(l, rr) = pat.substring(1, pat.length - 1)
            .split(java.util.regex.Pattern.quote(E + S), -1)
          merges += ((r.toLong, l, rr, cnt))
          val mergedSym = S + l + rr + E
          words = words
            .withColumn("enc",
              call_function("replace", col("enc"), lit(pat), lit(mergedSym)))
            .select("freq", "enc")
          // checkpoint every OTHER round (round 13): each eager
          // localCheckpoint is a full materialization job over the
          // vocabulary table, and the lineage between checkpoints is a
          // single codegen'd replace — recomputing one replace in the
          // next round's aggregate is cheaper than materializing every
          // round. Merge results are a pure function of the data either
          // way (same argmax per round).
          if (r % 2 == 0) words = words.localCheckpoint(eager = true)
          r += 1
        }
      }
      merges.result()
    })

  private val MergesCkptVersion = "v1"
  private val mergesCkptWritten = scala.collection.mutable.Set.empty[String]

  /** Write-once parquet checkpoint of the TRAINED merge table (the
    * GraphQueries shared-frame pattern): a tokenizer is a MODEL —
    * trained once per corpus release, consumed by every downstream
    * encode run — so x38 reads the standing copy while x34 keeps
    * timing the training itself (its session memo IS evicted by
    * Caches.reset). Content is a pure deterministic function of
    * (version, rounds, dir), so the oracle — which retrains in SQL —
    * replays the same table; the per-JVM rewrite heals any stale copy
    * an older binary left in /tmp. */
  private def standingMerges(s: SparkSession, dir: String)
      : Seq[(Long, String, String, Long)] = {
    // keyed by the FULL md5 of the absolute dir string (a 32-bit
    // dir.hashCode could collide across two data dirs in one JVM and
    // silently serve the wrong model), under a per-user subdirectory so
    // a world-shared /tmp path is neither guessable-by-convention nor
    // cross-user writable
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(dir).getAbsolutePath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val path = s"${System.getProperty("java.io.tmpdir")}/" +
      s"graft_${System.getProperty("user.name", "anon")}/" +
      s"bpe_${MergesCkptVersion}_r${Rounds}_$digest"
    synchronized {
      if (!mergesCkptWritten.contains(path)) {
        import s.implicits._
        trainMerges(s, dir).toDF("round", "left_sym", "right_sym", "freq")
          .coalesce(1).write.mode("overwrite").parquet(path)
        mergesCkptWritten.add(path)
      }
    }
    Tables.parquet(s, path).orderBy("round").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
  }

  /** Shared training CTE chain (w0..b$Rounds + merges); reused verbatim
    * by both oracles so the two gates replay ONE model. */
  private def trainCtes: String = {
    val sb = new StringBuilder
    sb.append(
      s"""w0 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS freq,
         |         regexp_replace(word, '(.)', '$S\\1$E', 'g') AS enc
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE length(word) >= 2 AND NOT regexp_matches(word, '[\\x00-\\x1f]')
         |  GROUP BY word),
         |""".stripMargin)
    for (r <- 1 to Rounds) {
      val prev = s"w${r - 1}"
      sb.append(
        s"""p$r AS (
           |  SELECT pat, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq,
           |               unnest(['$S' || ss[i] || '$E$S' || ss[i+1] || '$E'
           |                       for i in range(1, len(ss))]) AS pat
           |        FROM (SELECT freq,
           |                     string_split(substring(enc, 2, length(enc) - 2),
           |                                  '$E$S') AS ss
           |              FROM $prev))
           |  GROUP BY pat),
           |b$r AS (SELECT pat, cnt FROM p$r ORDER BY cnt DESC, pat LIMIT 1),
           |w$r AS (
           |  SELECT freq,
           |         replace(enc, b.pat,
           |                 '$S' || replace(replace(b.pat, '$S', ''), '$E', '') || '$E') AS enc
           |  FROM $prev, b$r b),
           |""".stripMargin)
    }
    val rows = (1 to Rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |       string_split(substring(pat, 2, length(pat) - 2), '$E$S')[1] AS left_sym,
         |       string_split(substring(pat, 2, length(pat) - 2), '$E$S')[2] AS right_sym,
         |       cnt AS freq
         |FROM b$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    sb.append(s"merges AS (\n$rows)")
    sb.toString
  }

  /** DuckDB replay of x34: the training rounds unrolled as CTEs (the d5
    * precedent). */
  private def trainOracle: String =
    s"WITH $trainCtes\nSELECT round, left_sym, right_sym, freq FROM merges ORDER BY round"

  /** DuckDB replay of x38: train (same CTEs), then encode every corpus
    * word through the R replaces in rank order. A round whose b$r is
    * empty (training exhausted early) no-ops via a sentinel pattern
    * '$S$E' — an empty symbol, which the wrapping can never produce. */
  private def encodeOracle: String = {
    val sb = new StringBuilder
    sb.append(s"WITH $trainCtes,\n")
    sb.append(
      s"""e0 AS (
         |  SELECT doc_id, regexp_replace(word, '(.)', '$S\\1$E', 'g') AS enc
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |        FROM documents)
         |  WHERE length(word) >= 1 AND NOT regexp_matches(word, '[\\x00-\\x1f]')),
         |""".stripMargin)
    for (r <- 1 to Rounds) {
      sb.append(
        s"""e$r AS (
           |  SELECT doc_id,
           |         replace(enc,
           |                 coalesce((SELECT pat FROM b$r), '$S$E'),
           |                 coalesce((SELECT '$S' || replace(replace(pat, '$S', ''), '$E', '') || '$E'
           |                           FROM b$r), '')) AS enc
           |  FROM e${r - 1}),
           |""".stripMargin)
    }
    sb.append(
      s"""toks AS (
         |  SELECT doc_id,
         |         unnest(string_split(substring(enc, 2, length(enc) - 2), '$E$S')) AS token
         |  FROM e$Rounds)
         |SELECT token, CAST(count(*) AS BIGINT) AS n_tokens,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM toks GROUP BY token
         |ORDER BY n_tokens DESC, token LIMIT 100""".stripMargin)
    sb.toString
  }

  val defs: Seq[QueryDef] = Seq(

    q("x34_bpe_train", trainOracle) { (s, dir) =>
      import s.implicits._
      trainMerges(s, dir).toDF("round", "left_sym", "right_sym", "freq")
        .orderBy("round")
    },

    // x38 (round 10, verdict ask #3) — ENCODE the corpus with the table
    // x34 trained: the single most common LLM-pipeline step (tokenize a
    // crawl with a shipped tokenizer). Output is the token-frequency
    // head (count + document frequency), the corpus-level fingerprint a
    // tokenizer change is audited by. Map-only over the corpus — the
    // merge table rides as R pattern literals — one groupBy(token)
    // exchange, TakeOrdered 100. The table comes from the STANDING
    // checkpoint (v12-standing-index / graph-frames pattern): x38 times
    // ENCODING, x34 times TRAINING — conflating them would charge every
    // downstream encode run the once-per-corpus model build.
    //
    // R-BOUND of this form: the replace chain is O(R) plan nodes —
    // exact and DuckDB-replayable at R=8, not plannable at the 32k-100k
    // merges a production tokenizer ships. functions.BpeEncode is the
    // scale twin: ONE UDF node looping lowest-rank-first over a
    // broadcast rank map, proven equal to this chain by
    // PropertySuites.BpeEncodeProps (random trained tables) and pinned
    // to this query's output in BpeTrainSpec; R-scaling is recorded in
    // SCALING.md.
    q("x38_bpe_encode", encodeOracle) { (s, dir) =>
      val merges = standingMerges(s, dir)
      val enc0 = Tables.load(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 1 &&
                !col("word").rlike("[\\x00-\\x1f]"))
        .withColumn("enc", regexp_replace(col("word"), "(.)", S + "$1" + E))
      val encoded = merges.foldLeft(enc0) { case (df, (_, l, r, _)) =>
        df.withColumn("enc",
          call_function("replace", col("enc"),
            lit(S + l + E + S + r + E), lit(S + l + r + E)))
      }
      encoded
        .select(col("doc_id"), explode(
          split(expr("substring(enc, 2, length(enc) - 2)"), s"$E$S")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n_tokens"),
             countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(desc("n_tokens"), col("token"))
        .limit(100)
    },
  )
}

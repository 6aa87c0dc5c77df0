package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Byte-pair-encoding vocabulary TRAINING as iterative DataFrame
  * aggregation — the one LLM-pipeline primitive the surface counted
  * tokens with but could not learn (TextFunctions.bpeishTokens counts
  * against a fixed regex; this learns the merge table itself, Sennrich
  * et al. 2016, "Neural Machine Translation of Rare Words with Subword
  * Units").
  *
  * Scale design: the corpus is touched ONCE, to build the word-frequency
  * table — from then on every iteration runs over that vocab-sized frame
  * (state = |vocab|, not |corpus|; the standard industrial-trainer trick).
  * Each merge step is one map-side-combinable pair-count aggregation
  * (one shuffle over ~|vocab|·avg_word_len rows) plus a 1-row argmax to
  * the driver; the merge rule is then applied with a codegen'd
  * higher-order `aggregate` fold, no UDF. At 100 TB the word-freq build
  * dominates and is a single groupBy; 32k merges over a few million
  * distinct words is driver-trivial (32k rows of state). Lineage is cut
  * with localCheckpoint every `checkpointEvery` merges so a long
  * training run does not accrete a 32k-deep plan.
  *
  * Pair counting is positional (overlapping: "aaa" holds (a,a) twice),
  * and merge application is left-to-right non-overlapping — both
  * matching the reference BPE algorithm. Ties on pair count break
  * lexicographically (left, then right), giving a total order so the
  * learned table is deterministic and cross-engine-reproducible.
  */
object BpeTrain {

  /** Corpus → (word, freq): lowercase, keep ASCII [a-z0-9] runs. The one
    * corpus-sized pass; everything downstream is vocab-sized.
    */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "[^a-z0-9]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Adjacent symbol pairs of `seq` weighted by `freq`, aggregated to
    * (lhs, rhs, pair_count). Empty/singleton sequences contribute
    * nothing (slice length 0 → empty zip).
    */
  private def pairCounts(seqs: DataFrame): DataFrame =
    seqs.select(col("freq"), explode(zip_with(
        slice(col("seq"), lit(1), size(col("seq")) - 1),
        slice(col("seq"), lit(2), size(col("seq")) - 1),
        (a, b) => struct(a.as("lhs"), b.as("rhs")))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum(col("freq")).as("pair_count"))

  /** One left-to-right non-overlapping application of merge (l, r) → lr.
    * A look-back fold is equivalent to the two-pointer scan: the merged
    * token `l+r` can never equal `l` (r is non-empty), so a
    * just-produced merge is never re-extended within the same rule.
    */
  private def applyMerge(seq: Column, l: String, r: String): Column =
    aggregate(seq, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Learn `numMerges` merge rules; returns the merge table
    * (step, lhs, rhs, merged, pair_count) ordered by step. Stops early
    * if the corpus runs out of pairs.
    */
  def learnMerges(docs: DataFrame, textCol: String, numMerges: Int,
                  checkpointEvery: Int = 20): DataFrame = {
    val spark = docs.sparkSession
    var seqs = wordFreqs(docs, textCol)
      .select(col("word"), col("freq"),
        filter(split(col("word"), ""), _ =!= "").as("seq"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      val best = pairCounts(seqs)
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .head(1)
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, l, r, l + r, cnt))
        val next = seqs.withColumn("seq", applyMerge(col("seq"), l, r))
        val cut = if (step % checkpointEvery == 0) next.localCheckpoint(false) else next
        val persisted = cut.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.count() // materialize before dropping the parent cache
        seqs.unpersist()
        seqs = persisted
        step += 1
      }
    }
    seqs.unpersist()
    import spark.implicits._
    merges.toSeq.toDF("step", "lhs", "rhs", "merged", "pair_count")
      .orderBy("step")
  }

  /** One left-to-right fold applying a BATCH of pairwise-disjoint merge
    * rules in a single pass: at each element a when-chain checks every
    * batch rule against (last(acc), x). Because the batch is token-
    * disjoint (including merged strings — see [[learnMergesBatched]]),
    * at most one rule can fire at a position and no firing can enable
    * another batch rule, so one pass ≡ applying the rules sequentially.
    */
  private def applyMergeBatch(seq: Column, batch: Seq[(String, String)]): Column =
    aggregate(seq, array().cast("array<string>"), (acc, x) => {
      val fallthrough = concat(acc, array(x))
      batch.foldRight(fallthrough) { case ((l, r), els) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(els)
      }
    })

  /** [[learnMerges]] with BATCHED rule acceptance — the shape that makes
    * distributed training viable at large rule counts: the sequential
    * trainer pays one pair-count shuffle + driver argmax PER RULE (fine
    * at 80 merges, hopeless at 32k); this accepts up to `batchSize`
    * rules per round, cutting rounds (and shuffles) by the average
    * batch width while producing the IDENTICAL merge table.
    *
    * Why identical, not approximately so: per round the ranking is the
    * total order (count DESC, lhs, rhs) and the batch is the longest
    * PREFIX of it that is pairwise token-disjoint — stopping at the
    * first candidate that shares a token with an accepted pair, not
    * skipping it — additionally
    *   - treating each accepted pair's MERGED string as a used token
    *     (a rule like (ab, c) must not ride in the same batch as
    *     (a, b): its count snapshot predates the new `ab` tokens), and
    *   - truncating trailing accepted rules whose count equals the
    *     stop candidate's (strict count drop at the batch boundary).
    * Under those three conditions every non-accepted pair — including
    * any pair a batch merge can create or rescore, whose count is
    * bounded by an overlapping parent's snapshot count — ranks strictly
    * below every accepted rule, and disjoint rules cannot change each
    * other's counts; so sequential greedy would pick exactly this batch
    * in exactly this order, with exactly these counts (BpeSpec proves
    * table-equality on real and adversarial corpora; a chained-merge
    * corpus forces singleton batches and still matches).
    *
    * Worst case (flat count plateaus of interacting pairs) degrades to
    * one rule per round = sequential; typical text accepts a widening
    * batch as the symbol pool grows. Driver round-trip per round is a
    * `head(batchSize+1)` TakeOrdered — rows, not the count table.
    */
  def learnMergesBatched(docs: DataFrame, textCol: String, numMerges: Int,
                         batchSize: Int = 32,
                         checkpointEvery: Int = 5): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    val spark = docs.sparkSession
    var seqs = wordFreqs(docs, textCol)
      .select(col("word"), col("freq"),
        filter(split(col("word"), ""), _ =!= "").as("seq"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var step = 1
    var round = 0
    var exhausted = false
    while (step <= numMerges && !exhausted) {
      val budget = math.min(batchSize, numMerges - step + 1)
      val top = pairCounts(seqs)
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .head(budget + 1)
      if (top.isEmpty) exhausted = true
      else {
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val used = scala.collection.mutable.HashSet.empty[String]
        var stopCount = -1L
        var i = 0
        var stopped = false
        while (i < top.length && !stopped) {
          val (l, r, c) = (top(i).getString(0), top(i).getString(1), top(i).getLong(2))
          val toks = Seq(l, r, l + r)
          if (accepted.size >= budget || toks.exists(used.contains)) {
            stopCount = c; stopped = true
          } else {
            accepted += ((l, r, c)); used ++= toks
          }
          i += 1
        }
        // strict-drop guard: a trailing accepted rule tying the stop
        // candidate's count is not provably next in sequential order —
        // push it to the next round. The head rule alone is always
        // exact (it IS the global argmax under the total order).
        while (accepted.size > 1 && stopCount >= 0 && accepted.last._3 == stopCount)
          accepted.dropRightInPlace(1)
        accepted.foreach { case (l, r, c) =>
          merges += ((step, l, r, l + r, c)); step += 1
        }
        val next = seqs.withColumn("seq",
          applyMergeBatch(col("seq"), accepted.map(a => (a._1, a._2)).toSeq))
        round += 1
        val cut = if (round % checkpointEvery == 0) next.localCheckpoint(false) else next
        val persisted = cut.persist(StorageLevel.MEMORY_AND_DISK)
        persisted.count()
        seqs.unpersist()
        seqs = persisted
      }
    }
    seqs.unpersist()
    import spark.implicits._
    merges.toSeq.toDF("step", "lhs", "rhs", "merged", "pair_count")
      .orderBy("step")
  }

  /** Driver-side trainer over the COLLECTED word-frequency table — the
    * regime industrial tokenizer trainers run in (the corpus is reduced
    * to (word, freq) once, distributed; the merge loop then iterates in
    * memory over that vocab-sized state). Identical algorithm to
    * [[learnMerges]]: positional overlapping pair counts weighted by
    * freq, (count DESC, lhs, rhs) argmax, left-to-right non-overlapping
    * merge — so the two trainers and the DuckDB oracle agree rule for
    * rule. Stops early when the corpus runs out of pairs.
    *
    * Scale: the ONLY corpus-sized work is the one wordFreqs groupBy;
    * what is collected is the distinct-word table, which `minFreq`
    * bounds at 100 TB exactly as production trainers do (hapax noise
    * words are dropped before the loop, keeping driver state at
    * real-vocab size — millions of rows, not corpus rows). Each merge
    * step is O(vocab · avg_len) driver work — microseconds — where the
    * distributed loop pays a full Spark job; use this when the vocab
    * fits the driver (it does for every real tokenizer-training corpus)
    * and [[learnMerges]] when it cannot.
    *
    * `maxVocab` makes "the vocab fits the driver" fail-loud instead of
    * OOM: the collect is a `take(maxVocab + 1)` (bounded driver transfer
    * even when the guard trips — the fetch stops as soon as the limit
    * is exceeded, it never ships the whole oversized vocab), and one
    * word past the cap raises with a pointer at `minFreq`. Measured
    * anchor (SCALE.md "BPE driver-vocab bound"): the
    * sf10 corpus reduces 27.07M running words to 2,274 distinct — four
    * orders of magnitude under the default cap — and real 100 TB web
    * corpora sit at tens of millions AFTER the standard minFreq hapax
    * cut, still inside it.
    * Merge iteration is frequency-sum arithmetic, so take()'s partition
    * order cannot affect the learned table (determinism spec'd).
    */
  def learnMergesLocal(docs: DataFrame, textCol: String, numMerges: Int,
                       minFreq: Long = 1L,
                       maxVocab: Int = 16000000): Seq[(String, String)] = {
    val taken = wordFreqs(docs, textCol).filter(col("freq") >= minFreq)
      .take(maxVocab + 1)
    if (taken.length > maxVocab) throw new IllegalArgumentException(
      s"learnMergesLocal: distinct-word vocab exceeds maxVocab=$maxVocab at minFreq=$minFreq - " +
        "raise minFreq (hapax/noise cut) or use the distributed learnMerges")
    val wf = taken.map(r => (r.getString(0), r.getLong(1)))
    val seqs = wf.map { case (w, f) => (w.split("").filter(_.nonEmpty), f) }
    val merges = Seq.newBuilder[(String, String)]
    var step = 0
    var exhausted = false
    while (step < numMerges && !exhausted) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      seqs.foreach { case (s, f) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (pc.isEmpty) exhausted = true
      else {
        val ((l, r), _) = pc.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((l, r))
        var k = 0
        while (k < seqs.length) {
          val (s, f) = seqs(k)
          val b = Array.newBuilder[String]
          var j = 0
          while (j < s.length) {
            if (j + 1 < s.length && s(j) == l && s(j + 1) == r) {
              b += (l + r); j += 2
            } else { b += s(j); j += 1 }
          }
          seqs(k) = (b.result(), f)
          k += 1
        }
        step += 1
      }
    }
    merges.result()
  }

  /** Apply a learned merge table to WORDS — the encode half of BPE
    * (tokenization with a trained vocab), deliberately vocab-sized:
    * call it on the distinct-word frame, never the corpus ([[encodeDocs]]
    * does the corpus-side join-back). Rules apply in rank order with
    * the same left-to-right non-overlapping fold as training — the
    * reference Sennrich encode.
    *
    * Two regimes: a small table (≤ `foldLimit` rules) chains the
    * codegen'd `aggregate` fold per rule — pure Column ops, no
    * serialization; a big table (32k production vocab) would explode
    * the plan that way, so it switches to one mapPartitions pass with
    * the rule array broadcast-captured — per-word imperative loop,
    * O(rules × word_len) worst case, still vocab-sized not
    * corpus-sized.
    */
  def encodeWords(words: DataFrame, wordCol: String,
                  merges: Seq[(String, String)], tokensCol: String = "tokens",
                  foldLimit: Int = 64): DataFrame = {
    val chars = filter(split(col(wordCol), ""), _ =!= "")
    if (merges.size <= foldLimit) {
      val seq = merges.foldLeft(chars) { case (acc, (l, r)) => applyMerge(acc, l, r) }
      words.withColumn(tokensCol, seq)
    } else {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
      // (l, r, merged) with the merged token interned once per rule —
      // the fold below is rules × word_len, and per-step Vector builders
      // plus l + r concatenations were the measured allocation churn of
      // this loop (it encodes the DISTINCT-word table, but a 32k-rule
      // production pass still visits every rule per word)
      val rules = merges.toArray.map { case (l, r) => (l, r, l + r) }
      val schema = StructType(words.schema.fields :+
        StructField(tokensCol, ArrayType(StringType), nullable = true))
      val wIdx = words.schema.fieldIndex(wordCol)
      val out = words.rdd.mapPartitions { it =>
        it.map { row =>
          val w = row.getString(wIdx)
          if (w == null) Row.fromSeq(row.toSeq :+ null)
          else {
            // in-place two-pointer compaction per rule: one char-split
            // array is allocated per word and shrunk logically; no
            // per-rule collection rebuild
            val toks: Array[String] = w.split("").filter(_.nonEmpty)
            var m = toks.length
            var i = 0
            while (i < rules.length && m >= 2) {
              val (l, r, lr) = rules(i)
              var wr = 0
              var j = 0
              while (j < m) {
                if (j + 1 < m && toks(j) == l && toks(j + 1) == r) {
                  toks(wr) = lr; j += 2
                } else { toks(wr) = toks(j); j += 1 }
                wr += 1
              }
              m = wr
              i += 1
            }
            val res: Seq[String] =
              scala.collection.immutable.ArraySeq.unsafeWrapArray(
                java.util.Arrays.copyOf(toks.asInstanceOf[Array[AnyRef]], m))
                .asInstanceOf[Seq[String]]
            Row.fromSeq(row.toSeq :+ res)
          }
        }
      }
      words.sparkSession.createDataFrame(out, schema)
    }
  }

  /** Tokenize a corpus with a learned merge table: the corpus-sized
    * work is one word split + one join back — the encode loop itself
    * runs only over DISTINCT words. Per doc: (doc, tokens) with words'
    * token runs concatenated in document order.
    */
  def encodeDocs(docs: DataFrame, textCol: String, idCol: String,
                 merges: Seq[(String, String)],
                 tokensCol: String = "tokens"): DataFrame = {
    val words = docs.select(col(idCol),
        posexplode(split(lower(col(textCol)), "[^a-z0-9]+")).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
    val encoded = encodeWords(words.select("word").distinct(), "word", merges, "_wt")
    words.join(encoded, Seq("word"))
      .groupBy(col(idCol))
      .agg(flatten(array_sort(collect_list(struct(col("pos"), col("_wt"))))
        .getField("_wt")).as(tokensCol))
  }

  /** DuckDB oracle for [[learnMerges]]: `numMerges` chained CTE blocks,
    * each recomputing pair counts, picking the same
    * (count DESC, lhs, rhs) argmax, and applying the merge as a string
    * `replace` over a control-char-wrapped symbol encoding
    * (chr(31) + sym + chr(30) per symbol — SQL replace is left-to-right
    * non-overlapping, and the wrappers make symbol boundaries
    * unambiguous, so it is exactly the fold above).
    */
  private def oracleCtes(numMerges: Int): String = {
    val blocks = (1 to numMerges).map { i =>
      val prev = s"s${i - 1}"
      s"""p$i AS MATERIALIZED (
         | SELECT u.l AS lhs, u.r AS rhs, CAST(sum(freq) AS BIGINT) AS pair_count
         | FROM (SELECT freq, unnest([{'l': ws[k], 'r': ws[k+1]} for k in range(1, len(ws))]) AS u
         |       FROM (SELECT freq, string_split(trim(s, chr(31)||chr(30)), chr(30)||chr(31)) AS ws FROM $prev))
         | GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT lhs, rhs, pair_count FROM p$i ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
         |s$i AS MATERIALIZED (SELECT word, freq, replace(s,
         |   (SELECT chr(31)||lhs||chr(30)||chr(31)||rhs||chr(30) FROM b$i),
         |   (SELECT chr(31)||lhs||rhs||chr(30) FROM b$i)) AS s FROM $prev)""".stripMargin
    }.mkString(",\n")
    // AS MATERIALIZED on every chain CTE: each s_i applies its merge
    // via two scalar subqueries on b_i, and without forced
    // materialization the planner may inline the whole upstream chain
    // into every reference — measured as a multi-minute blowup on the
    // encode form (which reads s_N directly) vs sub-second materialized
    s"""WITH w0 AS MATERIALIZED (
       | SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |  SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word FROM documents)
       | WHERE word <> '' GROUP BY word),
       |s0 AS MATERIALIZED (SELECT word, freq, chr(31) || array_to_string(string_split(word, ''), chr(30)||chr(31)) || chr(30) AS s FROM w0),
       |$blocks""".stripMargin
  }

  def oracleSql(numMerges: Int): String = {
    val union = (1 to numMerges).map { i =>
      s"SELECT $i AS step, lhs, rhs, lhs||rhs AS merged, pair_count FROM b$i"
    }.mkString("\nUNION ALL ")
    s"""${oracleCtes(numMerges)}
       |$union
       |ORDER BY step""".stripMargin
  }

  /** DuckDB oracle for the ENCODE half: the same training CTE chain,
    * whose final state s{numMerges} IS every word encoded under the
    * learned table — emitted as '|'-joined token strings for the top
    * `topK` words by corpus frequency.
    */
  def encodeOracleSql(numMerges: Int, topK: Int): String =
    s"""${oracleCtes(numMerges)}
       |SELECT word, freq,
       | array_to_string(string_split(trim(s, chr(31)||chr(30)), chr(30)||chr(31)), '|') AS tokens
       |FROM s$numMerges ORDER BY freq DESC, word LIMIT $topK""".stripMargin

  /** DuckDB oracle for [[encodeDocs]]: the training chain's final state
    * s{numMerges} IS every word's token run; re-split each doc with word
    * positions (DuckDB zips parallel unnests), join, and flatten the
    * runs in document order — per doc the token COUNT plus an md5 of
    * the '|'-joined token stream, a full-content check without shipping
    * megabyte token arrays through the compare harness.
    */
  def docsOracleSql(numMerges: Int): String =
    s"""${oracleCtes(numMerges)},
       |enc AS MATERIALIZED (
       | SELECT word, string_split(trim(s, chr(31)||chr(30)), chr(30)||chr(31)) AS toks FROM s$numMerges),
       |dw AS (
       | SELECT doc_id, pos, word FROM (
       |  SELECT doc_id, unnest(ws) AS word, unnest(range(1, len(ws)+1)) AS pos
       |  FROM (SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS ws FROM documents))
       | WHERE word <> ''),
       |flat AS (
       | SELECT doc_id, flatten(list(toks ORDER BY pos)) AS ft
       | FROM dw JOIN enc USING (word) GROUP BY doc_id)
       |SELECT doc_id, CAST(len(ft) AS BIGINT) AS n_tokens, md5(array_to_string(ft, '|')) AS tok_md5
       |FROM flat ORDER BY doc_id""".stripMargin
}

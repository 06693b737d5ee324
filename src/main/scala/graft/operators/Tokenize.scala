package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

import graft.core.Reliability
import graft.functions.Text

/** Distributed BPE merge training — the tokenizer-construction pass of
  * an LLM data pipeline (Sennrich et al., "Neural Machine Translation
  * of Rare Words with Subword Units", ACL'16).
  *
  * Shape: the corpus is crossed EXACTLY ONCE, by the word-frequency
  * aggregation (map-side-combinable groupBy on the token — the only
  * corpus-sized shuffle). Every merge round after that runs on the
  * VOCABULARY table (distinct words × their frequencies) — the same
  * working-set reduction production BPE trainers (subword-nmt,
  * SentencePiece, HF tokenizers) rely on, and what makes the loop
  * viable at 100 TB: a trillion tokens still collapse to a
  * tens-of-millions-row vocab.
  *
  * Pair counts are INCREMENTAL (r15): the full pair count runs once,
  * before round 1; each round then folds into the persistent
  * (lhs, rhs, n) table the exact signed contributions (-f for the old
  * spelling's pairs, +f for the merged spelling's) of ONLY the words
  * that CONTAIN the winning pair — the same adjacent-pairs-only update
  * production trainers do (subword-nmt's `update_pair_statistics`, HF
  * tokenizers' `count_pairs` delta) re-expressed relationally. A merge
  * touches few words (the hit set shrinks as training proceeds), so
  * per-round EXPLODE cost tracks the hit set, not the vocab: at a
  * tens-of-millions-row vocab × thousands of merges the recount was
  * the scale cost. The fold is one map-side-combinable aggregation
  * over `pairs UNION signed-hit-pairs` — no join — so the per-round
  * shuffle is bounded by the AGGREGATED pair table (≈ vocab-sized),
  * never the pair occurrences, and the NEXT round's argmax rides the
  * same materialization as an [[Observation]] (min of
  * struct(-n, lhs, rhs) = count desc, pair asc — a bounded driver
  * scalar like the A1 high-water-mark cursor; the merge choice is
  * inherently sequential, and the observation makes it cost zero
  * extra jobs). The per-row literal replace applying the merge to the
  * vocab is a narrow no-op on non-hit words and stacks lazily for
  * [[VocabCutEvery]] rounds between lineage cuts; pairs lineage is
  * cut (materialized) every round by the fold itself, both under the
  * [[Reliability]] policy (the engine's iterative shape, fourth
  * instance).
  *
  * Symbol encoding: each word is held as a single string with every
  * symbol wrapped as `\u001e sym \u001f`. The full bracketing makes a
  * pair pattern `␞x␟␞y␟` unambiguous at symbol boundaries (a naive
  * space-separated form mis-merges across adjacent symbols whose
  * delimiters overlap), and the leftmost non-overlapping scan both
  * engines' literal `replace` performs IS greedy left-to-right BPE
  * application (`[x,x,x]` with merge (x,x) → `[xx,x]`). Words
  * containing the separator bytes themselves are filtered out
  * (documented contract; they cannot occur in whitespace tokens of
  * well-formed text).
  *
  * Determinism: pair counts are exact longs; the winning pair breaks
  * ties by (count desc, lhs asc, rhs asc) binary string order —
  * bit-identical cross-engine.
  */
object Tokenize {

  /** Rounds between vocabulary lineage cuts in [[bpeMerges]] — the
    * replace chain within a window collapses to one projection, so
    * the window trades k extra string replaces per scanned row
    * against one materialization job per round. */
  private val VocabCutEvery = 16

  /** Session conf: working-set size (rows of the vocab or pair table,
    * whichever is larger) below which a [[bpeMerges]] round folds on a
    * single partition — a few MB of aggregated state, where one task
    * beats a shuffle on any cluster size. Both row counts come from
    * the observations the loop already fires, so the path choice is
    * free and re-decided every round (a table can shrink back under
    * the threshold as merges retire pairs). */
  val SmallFoldRowsKey = "spark.graft.bpe.smallFoldRows"
  private val SmallFoldRowsDefault = 128L * 1024

  /** Train `rounds` BPE merges over the whitespace tokens of
    * `docs(textCol)` (lowercased). Returns one row per learned merge:
    * (merge_rank, lhs, rhs, pair_n) — the merge table a tokenizer is
    * built from, in training order. Stops early if the corpus runs out
    * of multi-symbol words. */
  def bpeMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one merge round")
    val spark = docs.sparkSession
    val smallFoldRows = spark.conf.getOption(SmallFoldRowsKey)
      .map(_.toLong).getOrElse(SmallFoldRowsDefault)
    val RS = "\u001e"
    val US = "\u001f"

    // corpus → vocab: the one corpus-sized pass. Lazy cut — the
    // initial pair count materializes it as a side effect of its own
    // job, so the setup costs two aggregations but one job.
    var vocab = docs
      .select(explode(Text.tokens(lower(col(textCol)))).as("w"))
      .where(!col("w").contains(RS) && !col("w").contains(US))
      .groupBy("w").agg(count(lit(1)).cast("long").as("f"))
      .select(col("f"), regexp_replace(col("w"), "(.)", s"$RS$$1$US").as("sym"))
      .transform(Reliability.cut(_, eager = false))

    // aggregate a stream of signed pair-count contributions and ride
    // the NEXT round's argmax on the same materialization: min of
    // struct(-n, lhs, rhs) is exactly (count desc, lhs asc, rhs asc) —
    // struct comparison is field-lexicographic and Spark's binary
    // string order matches the sort the recount used. The Observation
    // fires during the eager cut, so the argmax costs ZERO extra jobs
    // (the same pre-materialization placement as GraphRank's
    // endpoint-contract observation).
    // `single = true` is the small-working-set fold: coalesce(1) makes
    // the one partition satisfy the aggregation's distribution, so the
    // whole round plans with ZERO exchanges — one job, no AQE stages.
    // That is the right physical plan on a 1000-executor cluster too:
    // once the aggregated state fits one task, a shuffle is pure
    // overhead. The observed row counts (free, same materialization)
    // decide the path each round; above the threshold the fold shuffles
    // normally and AQE sizes the exchange.
    def aggregated(contribs: DataFrame, single: Boolean): (DataFrame, Observation) = {
      val obs = Observation()
      val out = (if (single) contribs.coalesce(1) else contribs)
        .groupBy("lhs", "rhs").agg(sum(col("n")).as("n"))
        .where(col("n") > 0)
        .observe(obs,
          min(struct((-col("n")).as("neg_n"), col("lhs"), col("rhs"))).as("top"),
          count(lit(1)).as("rows"))
        .transform(Reliability.cut(_))
      (out, obs)
    }

    // adjacent (lhs, rhs, ±f) occurrences of the words in `v` — for the
    // initial build `a1` is the word itself (weight +f); per round it
    // is (old spelling, -f) ++ (merged spelling, +f) over ONLY the
    // words the merge rewrites
    def signedPairs(v: DataFrame): DataFrame = v
      .select(explode(concat(
        expr("transform(slice(a0, 1, greatest(size(a0) - 1, 0)), " +
          "(x, i) -> named_struct('lhs', x, 'rhs', element_at(a0, i + 2), 'n', -f))"),
        expr("transform(slice(a1, 1, greatest(size(a1) - 1, 0)), " +
          "(x, i) -> named_struct('lhs', x, 'rhs', element_at(a1, i + 2), 'n', f))"))).as("pr"))
      .select(col("pr.lhs").as("lhs"), col("pr.rhs").as("rhs"), col("pr.n").as("n"))

    // symbol array of a wrapped spelling — Column-API lambdas, so
    // merge-pair strings never ride inside SQL text (tokens may carry
    // quotes)
    def symsOf(c: Column): Column =
      transform(filter(split(c, US), x => x =!= lit("")),
        x => x.substr(lit(2), length(x)))

    // the one full pair count (a0 empty: nothing to retract). The
    // vocab-rows observation rides this first job on a side branch —
    // `vocab` itself stays unobserved so later rounds can re-execute
    // its plan freely.
    val vocabObs = Observation()
    var (pairs, obs) = aggregated(signedPairs(
      vocab.observe(vocabObs, count(lit(1)).as("rows"))
        .select(col("f"), array().cast("array<string>").as("a0"), symsOf(col("sym")).as("a1"))),
      single = false)
    val vocabRows = vocabObs.get("rows").asInstanceOf[Long]

    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var r = 1
    var sinceCut = 0
    var exhausted = false
    while (r <= rounds && !exhausted) {
      Option(obs.get("top").asInstanceOf[Row]) match {
        case None => exhausted = true
        case Some(top) =>
          val (l, rr, n) = (top.getString(1), top.getString(2), -top.getLong(0))
          merges += ((r.toLong, l, rr, n))
          val pat = s"$RS$l$US$RS$rr$US"
          val merged = lit(s"$RS$l$rr$US")
          // only words CONTAINING the winning pair change their
          // adjacent-pair multiset; `contains` on the wrapped encoding
          // identifies exactly the rows the literal replace rewrites.
          // The exhaustive leftmost scan leaves no occurrence of the
          // pattern behind, so the winner's own count nets to zero and
          // `n > 0` retires it from the table.
          val hitDelta = signedPairs(vocab
            .where(col("sym").contains(pat))
            .select(col("f"), symsOf(col("sym")).as("a0"),
              symsOf(replace(col("sym"), lit(pat), merged)).as("a1")))
          val pairsRows = obs.get("rows").asInstanceOf[Long]
          val merge = aggregated(pairs.unionByName(hitDelta),
            single = vocabRows.max(pairsRows) <= smallFoldRows)
          pairs = merge._1
          obs = merge._2
          // the merge application is a narrow per-row replace — let a
          // WINDOW of them stack on the last materialized blocks
          // (CollapseProject folds the chain into one projection, and
          // the k stacked replaces cost k cheap string scans per row
          // at the next read) and cut only every [[VocabCutEvery]]
          // rounds: the cut's job-per-round was a third of the round's
          // wall-clock at small scale, and at any scale the window
          // bounds plan depth without rewriting the vocab blocks
          // every round
          vocab = vocab.withColumn("sym", replace(col("sym"), lit(pat), merged))
          sinceCut += 1
          if (sinceCut >= VocabCutEvery) {
            vocab = Reliability.cut(vocab)
            sinceCut = 0
          }
          r += 1
      }
    }
    import spark.implicits._
    merges.result().toDF("merge_rank", "lhs", "rhs", "pair_n")
  }

  /** Apply a trained merge list — the SERVING half of [[bpeMerges]]
    * (the engine's prepare/serve discipline, tokenizer edition): every
    * word is segmented by replaying the merges in training order (the
    * same wrap encoding and leftmost-non-overlapping replace, so
    * applying right after training reproduces the training-time
    * segmentation exactly), then the corpus's subword-token frequency
    * table comes out of one map-side-combinable aggregation. The merge
    * list is a bounded driver-side artifact (what a tokenizer SHIPS);
    * the corpus is crossed once for word frequencies and every
    * replay + count runs on the vocab table.
    *
    * Returns (token, n) — subword occurrences weighted by word
    * frequency. */
  def bpeApply(
      docs: DataFrame,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val RS = "\u001e"
    val US = "\u001f"
    val vocab = docs
      .select(explode(Text.tokens(lower(col(textCol)))).as("w"))
      .where(!col("w").contains(RS) && !col("w").contains(US))
      .groupBy("w").agg(count(lit(1)).cast("long").as("f"))
      .select(col("f"), regexp_replace(col("w"), "(.)", s"$RS$$1$US").as("sym"))
    val applied = merges.foldLeft(col("sym")) { case (c, (l, r)) =>
      replace(c, lit(s"$RS$l$US$RS$r$US"), lit(s"$RS$l$r$US"))
    }
    vocab
      .withColumn("applied_sym", applied)
      .select(col("f"),
        explode(expr(s"transform(filter(split(applied_sym, '$US'), x -> x != ''), x -> substring(x, 2))"))
          .as("token"))
      .groupBy("token").agg(sum(col("f")).as("n"))
  }
}

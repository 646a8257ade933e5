package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.GraftFunctions.cosine_distance
import TextKit._

/** Text-analysis + deduplication operators over `documents` — the
  * LLM-data-pipeline north star (BASELINE.json; reference analog: the
  * description corpus the store keeps per photo,
  * photo_vector_search.py:128-140).
  *
  * Scale design notes (100 TB posture):
  *  - Everything is per-document scan-local until an explicit
  *    aggregation/join; no driver-side loops, no UDFs — all built-in
  *    codegen'd expressions.
  *  - The near-dup candidate join is an equi-join on shared word
  *    trigram shingles. Trigram doc-frequency is ~1.6 on this corpus,
  *    so candidates grow ~linearly with the corpus instead of O(n²);
  *    completeness is exact because Jaccard ≥ τ > 0 implies at least
  *    one shared shingle. (The classic refinement — prefix filtering
  *    on the ⌈(1-τ)|S|⌉+1 globally-rarest shingles — drops candidate
  *    volume further and keeps the same completeness proof.)
  *  - tf-idf joins its tiny per-token side with explicit broadcast.
  */
object TextOps {

  val qs: Seq[Q] = Seq(

    // Tokenizer as a Generate node (1 row → N rows): token corpus
    // frequencies + document frequencies.
    Q("q_tokenize_explode",
      s"""SELECT token, count(*) AS n, count(DISTINCT doc_id) AS n_docs
         |FROM (SELECT doc_id, unnest($toksDuck) AS token FROM documents) u
         |GROUP BY token ORDER BY token""".stripMargin) { (s, d) =>
      fanout(Tables.documents(s, d))
        .select(col("doc_id"), explode(expr(toks)).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("token")
    },

    // Custom-UDTF tokenizer: positional char-3-grams via the
    // CharShingles Generator (functions/ShingleGenerator.scala) — a
    // true streaming 1-row→N-rows expansion with no intermediate
    // array and no barrier (contrast q_ngram_jaccard's
    // explode(transform(sequence)) composition, which needs both).
    Q("q_udtf_shingles",
      """SELECT * FROM (
        |  SELECT doc_id,
        |    unnest([{'pos': i, 'gram': substr(lt, i, 3)}
        |            for i in range(1, length(lt) - 1)], recursive := true)
        |  FROM (SELECT doc_id, lower(text) AS lt FROM documents
        |        WHERE doc_id < 20))
        |ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
      Tables.documents(s, d).filter(col("doc_id") < 20)
        .withColumn("lt", lower(col("text")))
        .select(col("doc_id"), expr("char_shingles(lt, 3)"))
        .orderBy("doc_id", "pos")
    },

    // tf-idf top-5 terms per document: two aggregations + a broadcast
    // join on the (tiny) per-token document-frequency side + windowed
    // top-k. Rank on the round(6) score so tie order is engine-stable.
    Q("q_tfidf",
      s"""WITH tok AS (SELECT doc_id, unnest($toksDuck) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, token, tf,
         |         round(tf * ln(n_docs / df), 6) AS score
         |       FROM tf JOIN dfq USING (token) CROSS JOIN n),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, token) AS rn FROM sc)
         |SELECT doc_id, token, tf, score FROM r WHERE rn <= 5
         |ORDER BY doc_id, score DESC, token""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tok = fanout(docs).select(col("doc_id"), explode(expr(toks)).as("token"))
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfq = tok.select("doc_id", "token").distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val sc = tf.join(broadcast(dfq), "token").crossJoin(broadcast(n))
        .withColumn("score", round(col("tf") * log(col("n_docs") / col("df")), 6))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("token"))
      sc.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        .select("doc_id", "token", "tf", "score")
        .orderBy(col("doc_id"), col("score").desc, col("token"))
    },

    // Exact dedup (THE flagship LLM-pipeline op): the corpus unioned
    // with a re-ingested copy of itself (ids shifted — the A7 ingest
    // re-run scenario), deduplicated on md5(text), first-writer wins.
    // One hash-partitioned shuffle; no pairwise work.
    Q("q_dedup_exact",
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents),
        |h AS (SELECT doc_id, md5(text) AS text_hash,
        |        count(*) OVER (PARTITION BY md5(text)) AS n_copies,
        |        row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |      FROM all_docs)
        |SELECT doc_id, text_hash, n_copies FROM h WHERE rn = 1
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d).select("doc_id", "text")
      val reingested = base.withColumn("doc_id", col("doc_id") + 100000)
      val all = base.unionByName(reingested)
        .withColumn("text_hash", md5(col("text").cast("binary")))
      val byHash = Window.partitionBy("text_hash")
      all
        .withColumn("n_copies", count(lit(1)).over(byHash))
        .withColumn("rn",
          row_number().over(byHash.orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
        .select("doc_id", "text_hash", "n_copies")
        .orderBy("doc_id")
    },

    // Near-dup pairs: word-trigram shingle Jaccard ≥ 0.6, found by
    // PREFIX-FILTERED candidate generation (PPJoin-style, exact):
    // under a fixed global shingle order (ascending document
    // frequency, then shingle), two sets with J ≥ τ MUST share an
    // element inside their first |S| - ⌈τ|S|⌉ + 1 elements — so only
    // those prefix shingles are indexed for the equi-join, and the
    // frequent shingles that drive candidate blowup never enter the
    // index. A size-compatibility filter (τ·|A| ≤ |B| ≤ |A|/τ) prunes
    // further before the exact array_intersect verification. Oracle
    // uses the EXACT shared-shingle candidate rewrite
    // (TextKit.sharedShingleCandDuck — J ≥ 0.6 > 0 implies a shared
    // shingle, so the inverted-index pair set is complete and the
    // final jac filter makes it identical to the brute force), which
    // keeps the DuckDB side inside the sf1.0 oracle budget.
    Q("q_dedup_near",
      s"""WITH tok AS MATERIALIZED (SELECT doc_id, $toksDuck AS w FROM documents),
         |sh AS MATERIALIZED (SELECT doc_id, ${shingles3Duck("w")} AS s FROM tok WHERE len(w) >= 3),
         |${prefixCandDuck(0.6, ordered = true)},
         |${jaccardPairsDuck()}
         |SELECT id1, id2, jac FROM p WHERE jac >= 0.6
         |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      // Full pipeline lives in DedupStages.nearDupPairs (shared with
      // q_dup_clusters and the scale stress tests): barriered
      // token/shingle stages, prefix-filtered candidates, exact
      // verification over 60-bit shingle hashes, NO broadcast hints
      // on the verify joins (Catalyst picks broadcast at this sf
      // from size estimates; sort-merge on doc_id at scale).
      // Past the pairGateDocs gate (round-16: the exact candidate
      // stage exhausted spill disk at the 100× fixture's 100-member
      // cliques) auto routes to the banded bucket-capped form — the
      // ≥τ contract restricted to each doc's top-5 neighborhood,
      // declared schema kept (DedupStages.nearDupTop5). Its
      // τ-screened pairs are built once per corpus and shared with
      // q_dup_clusters (DedupStages.bandedJaccardPairs, under the
      // Tables.pinned rule).
      (DedupStages.pairRoute(s, d) match {
        case "banded" => DedupStages.nearDupTop5(DedupStages.bandedJaccardPairs(
          s, d, tau = 0.6, DedupStages.pairBucketCap(s)))
        case _ => DedupStages.nearDupPairs(Tables.documents(s, d), tau = 0.6)
      }).orderBy("id1", "id2")
    },

    // Duplicate-cluster canonicalization — the step after pair
    // finding that an LLM-data pipeline actually executes: CONNECTED
    // COMPONENTS over the ≥τ near-dup pair graph via iterative
    // min-label propagation with pointer jumping, run to its
    // label-sum fixpoint (DedupStages.minLabelPropagate — stops the
    // round after labels stop moving; convergence pinned in
    // ScalePathSpec, including a (3,9),(5,9)-shaped transitive
    // component where every member
    // canonicalizes to 3). canonical = the component's minimum
    // doc_id; keep = the doc IS its component minimum, so exactly
    // one doc survives per duplicate cluster even when members are
    // connected only transitively. The pair list is pinned once;
    // each round shuffles only n_docs-row label frames and runs two
    // checkpoint jobs, the label sum observed inside them. Oracle =
    // full-fixpoint WITH RECURSIVE min-label walk (UNION-deduped
    // reachability) — the same fixpoint the convergence-stopped
    // engine loop computes, so the hash compare is exact at any
    // component diameter.
    Q("q_dup_clusters",
      s"""WITH RECURSIVE
         |tok AS MATERIALIZED (SELECT doc_id, $toksDuck AS w FROM documents),
         |sh AS MATERIALIZED (SELECT doc_id, ${shingles3Duck("w")} AS s FROM tok WHERE len(w) >= 3),
         |${prefixCandDuck(0.6, ordered = true)},
         |${jaccardPairsDuck(out = "pv")},
         |p AS (SELECT id1, id2 FROM pv WHERE jac >= 0.6),
         |e AS (SELECT id1 AS a, id2 AS b FROM p
         |      UNION ALL SELECT id2, id1 FROM p),
         |walk(node, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, w.lab FROM walk w JOIN e ON e.a = w.node),
         |cc AS (SELECT node AS doc_id, min(lab) AS canonical
         |       FROM walk GROUP BY node)
         |SELECT doc_id, canonical, canonical = doc_id AS keep
         |FROM cc ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // Edge-set route (round-16): past the gate, the banded capped
      // candidates — CC needs a SPANNING subgraph, not every clique
      // edge; within a replica clique every member pairs with the
      // bucket's smallest ids (a connecting star), so cluster
      // assignment is exact in the regime that creates oversized
      // buckets. Round 19: the UNDEDUPED ≥τ candidate stream —
      // min-label propagation is multiplicity/orientation-invariant,
      // so the old distinct() pass re-shuffled the clique-mass pair
      // stream for nothing (+54 s at 100×; both arguments are in the
      // DedupStages.bandedJaccardPairs scaladoc). The stream is the
      // one q_dedup_near folds, built and pinned once per corpus
      // (under the Tables.pinned rule), so after q_dedup_near this
      // operator runs only its label loop, which reads the pinned
      // stream without copying it.
      val (pairs, pinned) = DedupStages.pairRoute(s, d) match {
        case "banded" => (DedupStages.bandedJaccardPairs(
          s, d, tau = 0.6, DedupStages.pairBucketCap(s)), true)
        case _ => (DedupStages.nearDupPairs(docs, tau = 0.6), false)
      }
      val lab = DedupStages.minLabelPropagate(
        docs.select(col("doc_id").as("node")), pairs, pairsPinned = pinned)
      lab.select(col("node").as("doc_id"), col("lab").as("canonical"),
          (col("lab") === col("node")).as("keep"))
        .orderBy("doc_id")
    },

    // Character-3-gram Jaccard of every document against a fixed query
    // document (doc 0) — the linear-scan n-gram similarity probe.
    // Top-20 by (rounded sim, doc_id): ties are engine-stable.
    Q("q_ngram_jaccard",
      s"""WITH g AS (SELECT doc_id,
         |    list_distinct([substr(lower(text), i, 3)
         |                   for i in range(1, length(text) - 1)]) AS g
         |  FROM documents WHERE length(text) >= 3),
         |q AS (SELECT g AS qg FROM g WHERE doc_id = 0)
         |SELECT doc_id, round(${jaccardDuck("g.g", "q.qg")}, 6) AS jac
         |FROM g, q WHERE doc_id <> 0
         |ORDER BY jac DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val grams = barrier(barrier(Tables.documents(s, d)
        .filter(length(col("text")) >= 3)
        .withColumn("lt", lower(col("text"))))
        .select(col("doc_id"),
          expr("array_distinct(transform(sequence(1, length(lt) - 2), i -> substr(lt, i, 3)))").as("g")))
      val q0 = grams.filter(col("doc_id") === 0).select(col("g").as("qg"))
      grams.filter(col("doc_id") =!= 0)
        .crossJoin(broadcast(q0))
        .select(col("doc_id"), round(expr(jaccard("g", "qg")), 6).as("jac"))
        .orderBy(col("jac").desc, col("doc_id"))
        .limit(20)
    },

    // Language identification: multinomial Naive Bayes with +1
    // smoothing, profiles learned from the corpus itself in the same
    // query (per-lang token frequencies ARE the n-gram model at this
    // vocab size). DECIMAL(38,12) accumulation keeps the score sum
    // order-independent for the hash compare.
    //
    // NO dense grid: Σ_t cnt_t·ln((lcnt+1)/(ltot+V)) decomposes as
    // Σ_{t seen in lang} cnt_t·ln(lcnt+1) − totcnt_doc·ln(ltot+V)
    // (unseen tokens contribute ln(1) = 0 to the numerator term), so
    // the scoring join is tf ⋈ prof on TOKEN — its row count is the
    // per-(doc, lang) token overlap, not |langs|×|vocab| — plus a
    // per-lang ln(ltot+V) constant and a doc×langs shell for
    // zero-overlap pairs. Nothing materialized or broadcast grows
    // with vocabulary; the formulation survives a corpus-scale vocab
    // where the langs×vocab grid (the round-3 verdict's "first thing
    // to break at scale") cannot. Both engines compute the SAME
    // decomposition, so decimal accumulation + the double subtraction
    // stay bit-identical for the hash compare.
    Q("q_lang_id",
      s"""WITH tok AS (SELECT doc_id, lang, unnest($toksDuck) AS t FROM documents),
         |tf AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |dtot AS (SELECT doc_id, sum(cnt) AS totcnt FROM tf GROUP BY 1),
         |prof AS (SELECT lang, t, count(*) AS lcnt FROM tok GROUP BY 1, 2),
         |tot AS (SELECT lang, count(*) AS ltot FROM tok GROUP BY 1),
         |vs AS (SELECT count(DISTINCT t) AS v FROM tok),
         |lden AS (SELECT lang, ln(ltot + v) AS lnden
         |         FROM tot CROSS JOIN vs),
         |prior AS (SELECT lang, ln(count(*) / (SELECT count(*) FROM documents)) AS plp
         |          FROM documents GROUP BY lang),
         |seen AS (SELECT tf.doc_id, p.lang,
         |           CAST(sum(CAST(tf.cnt * ln(p.lcnt + 1) AS DECIMAL(38,12))) AS DOUBLE) AS s1
         |         FROM tf JOIN prof p USING (t) GROUP BY tf.doc_id, p.lang),
         |sc AS (SELECT d0.doc_id, ld.lang AS plang,
         |         coalesce(s.s1, 0) - d0.totcnt * ld.lnden AS ssum
         |       FROM dtot d0 CROSS JOIN lden ld
         |       LEFT JOIN seen s ON s.doc_id = d0.doc_id AND s.lang = ld.lang),
         |scored AS (SELECT sc.doc_id, sc.plang,
         |             round(sc.ssum + pr.plp, 4) AS score
         |           FROM sc JOIN prior pr ON pr.lang = sc.plang),
         |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, plang) AS rn FROM scored)
         |SELECT r.doc_id, r.plang AS pred_lang, dd.lang AS actual_lang, r.score
         |FROM r JOIN documents dd ON dd.doc_id = r.doc_id
         |WHERE rn = 1 ORDER BY r.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tok = fanout(docs).select(col("doc_id"), col("lang"), explode(expr(toks)).as("t"))
      val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      val dtot = tf.groupBy("doc_id").agg(sum("cnt").as("totcnt"))
      val prof = tok.groupBy("lang", "t").agg(count(lit(1)).as("lcnt"))
      val tot = tok.groupBy("lang").agg(count(lit(1)).as("ltot"))
      val vs = tok.select("t").distinct().agg(countDistinct("t").as("v"))
      val lden = tot.crossJoin(broadcast(vs))
        .select(col("lang").as("plang"), expr("ln(ltot + v)").as("lnden"))
      val nAll = docs.agg(count(lit(1)).as("n"))
      val prior = docs.groupBy("lang").agg(count(lit(1)).as("ndocs"))
        .crossJoin(broadcast(nAll))
        .select(col("lang"), expr("ln(ndocs / n)").as("plp"))
      val seen = tf.join(prof.withColumnRenamed("lang", "plang"), "t")
        .groupBy("doc_id", "plang")
        .agg(sum((col("cnt") * expr("ln(lcnt + 1)")).cast(DecimalType(38, 12)))
          .cast("double").as("s1"))
      val sc = dtot.crossJoin(broadcast(lden))
        .join(seen, Seq("doc_id", "plang"), "left")
        .select(col("doc_id"), col("plang"),
          (coalesce(col("s1"), lit(0.0)) - col("totcnt") * col("lnden")).as("ssum"))
      val scored = sc.join(broadcast(prior), col("plang") === col("lang"))
        .select(col("doc_id"), col("plang"),
          round(col("ssum") + col("plp"), 4).as("score"))
      val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("plang"))
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .join(docs.select(col("doc_id"), col("lang").as("actual_lang")), "doc_id")
        .select(col("doc_id"), col("plang").as("pred_lang"),
          col("actual_lang"), col("score"))
        .orderBy("doc_id")
    },

    // Document quality scoring: type-token ratio, stopword ratio,
    // length saturation — the standard cheap pre-training filters.
    // The composite is computed from the RAW ratios, not the rounded
    // display columns: weighted sums of 6-decimal values land on
    // exact .5 round-half boundaries where the engines' double
    // rounding can disagree; raw integer-division doubles don't.
    Q("q_quality_score",
      s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
         |f AS (SELECT doc_id,
         |  len(w) AS n_tokens,
         |  len(list_distinct(w)) / len(w) AS ttr_raw,
         |  len(list_filter(w, x -> x IN ('the', 'a'))) / len(w) AS stop_raw,
         |  list_sum(list_transform(w, x -> length(x))) / len(w) AS atl_raw
         |  FROM t WHERE len(w) > 0)
         |SELECT doc_id, n_tokens, round(ttr_raw, 6) AS ttr,
         |  round(stop_raw, 6) AS stop_ratio, round(atl_raw, 6) AS avg_token_len,
         |  round(CAST(0.3 AS DOUBLE) * ttr_raw + CAST(0.4 AS DOUBLE) * (1 - stop_raw)
         |      + CAST(0.3 AS DOUBLE) * least(CAST(n_tokens AS DOUBLE) / 100, 1.0), 6) AS quality
         |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      // The empty-doc guard tests the RAW text (pushable to the scan
      // as a cheap predicate) — filtering on size(w) would inline the
      // tokenizer into a per-row Filter condition below the barrier.
      barrier(Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .withColumn("w", expr(toks)))
        .select(col("doc_id"),
          size(col("w")).as("n_tokens"),
          expr("size(array_distinct(w)) / size(w)").as("ttr_raw"),
          expr("size(filter(w, x -> x IN ('the', 'a'))) / size(w)").as("stop_raw"),
          expr("aggregate(w, 0, (acc, x) -> acc + length(x)) / size(w)").as("atl_raw"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("ttr_raw"), 6).as("ttr"),
          round(col("stop_raw"), 6).as("stop_ratio"),
          round(col("atl_raw"), 6).as("avg_token_len"),
          round(expr("CAST(0.3 AS DOUBLE) * ttr_raw + CAST(0.4 AS DOUBLE) * (1 - stop_raw)" +
            " + CAST(0.3 AS DOUBLE) * least(CAST(n_tokens AS DOUBLE) / 100, 1.0)"), 6)
            .as("quality"))
        .orderBy("doc_id")
    },

    // String-distance / positional functions: edit distance against
    // a reference phrase plus locate/reverse — the fuzzy-matching
    // primitives (integer-exact, no float parity concerns).
    Q("q_str_funcs",
      """SELECT doc_id,
        |  levenshtein(substr(lower(text), 1, 20), 'key agg row scan slow') AS lev,
        |  strpos(lower(text), 'hash') AS hash_pos,
        |  reverse(substr(lower(text), 1, 12)) AS rev_head,
        |  upper(substr(text, 1, 8)) AS up_head
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        levenshtein(expr("substr(lower(text), 1, 20)"),
          lit("key agg row scan slow")).as("lev"),
        instr(lower(col("text")), "hash").as("hash_pos"),
        reverse(expr("substr(lower(text), 1, 12)")).as("rev_head"),
        upper(expr("substr(text, 1, 8)")).as("up_head"))
        .orderBy("doc_id")
    },

    // Token counting: whitespace tokens vs a BPE-ish regex lexer
    // (letter runs | digit runs | single other char) — the cheap
    // "how many tokens will the model see" estimator.
    Q("q_token_count",
      s"""SELECT doc_id,
         |  len($toksDuck) AS ws_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
         |  length(text) AS len_chars,
         |  round(length(text) / len($toksDuck), 6) AS chars_per_token
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      barrier(Tables.documents(s, d).withColumn("w", expr(toks)))
        .select(col("doc_id"),
          size(col("w")).as("ws_tokens"),
          expr("size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
            .as("re_tokens"),
          length(col("text")).as("len_chars"),
          round(expr("length(text) / size(w)"), 6).as("chars_per_token"))
        .orderBy("doc_id")
    },

    // BM25 RELEVANCE (k1=1.2, b=0.75): the full-text ranking sibling
    // of q_tfidf — idf × saturated-tf × length normalization. The
    // "query" is a deterministic 8-term set (document-frequency ranks
    // 10-17 — past the stopword head, still corpus-wide) so the
    // workload is self-contained. Plan shape at 100 TB: the term set
    // and the (N, avgdl) scalar frame broadcast; the tf side is
    // pruned to the 8 query terms BEFORE its join with per-doc
    // lengths (both sides hashed on doc_id — one co-keyed shuffle);
    // per-term contributions are rounded then decimal-summed so the
    // 8-way sum is order-independent across engines.
    Q("q_bm25",
      s"""WITH tok AS (SELECT doc_id, unnest($toksDuck) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tok GROUP BY 1),
         |dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |terms AS (SELECT token, df FROM (SELECT token, df,
         |      row_number() OVER (ORDER BY df DESC, token) AS r FROM dfq)
         |    WHERE r BETWEEN 10 AND 17),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |sc AS (SELECT tf.doc_id,
         |    round(ln(1 + (st.n - t.df + 0.5) / (t.df + 0.5))
         |      * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)), 6) AS s
         |  FROM tf JOIN terms t USING (token)
         |  JOIN dl USING (doc_id) CROSS JOIN st)
         |SELECT doc_id, count(*) AS n_hit,
         |  round(CAST(sum(CAST(s AS DECIMAL(38,6))) AS DOUBLE), 6) AS score
         |FROM sc GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tok = fanout(docs).select(col("doc_id"), explode(expr(toks)).as("token"))
      // ONE tokenize+explode pass: dl and df both derive from tf
      // (dl = Σtf per doc, df = row count per token), so the three
      // tf references share one identical exchange subtree and
      // ReuseExchange runs the explode+shuffle once.
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy("doc_id").agg(sum("tf").cast("double").as("dl"))
      val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      // Terms ranked 10-17 by document frequency WITHOUT a
      // partition-less window (which would serialize the whole
      // vocabulary through one task at scale): two orderBy().limit()
      // top-k's — each a TakeOrderedAndProject with per-partition
      // 17/9-row heaps — and an anti-join drops ranks 1-9. Token is
      // unique in dfq and the sort key is total, so the two prefixes
      // nest exactly. Both limits hang off the same dfq exchange
      // (ReuseExchange runs the tokenize+shuffle once).
      val top17 = dfq.orderBy(col("df").desc, col("token")).limit(17)
      val top9 = dfq.orderBy(col("df").desc, col("token")).limit(9)
        .select("token")
      val terms = top17.join(top9, Seq("token"), "left_anti")
        .select("token", "df")
      val st = dl.agg((sum("dl").cast("double") / count(lit(1))).as("avgdl"))
        .crossJoin(docs.agg(count(lit(1)).as("n")))
      tf.join(broadcast(terms), "token")
        .join(dl, "doc_id").crossJoin(broadcast(st))
        .withColumn("s", round(
          log(lit(1) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
            * (col("tf") * 2.2)
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 6))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hit"), dsum(col("s")).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(100)
    },

    // TOKEN ENTROPY per document: H = −Σ p·ln p over the doc's token
    // distribution — low entropy marks template/boilerplate text the
    // repetition gate (q_repetition) can miss when the repeats aren't
    // adjacent. Per-term contributions are computed from exact
    // integer (tf, dl) pairs — the division and log evaluate
    // identically on both engines — then rounded and decimal-summed
    // so the per-doc total is order-independent. Shape: one explode +
    // (doc, token) aggregation; the doc-length window rides a
    // hash(doc_id) exchange; the final rollup reuses that clustering.
    Q("q_doc_entropy",
      s"""WITH tok AS (SELECT doc_id, unnest($toksDuck) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |wd AS (SELECT doc_id, token, tf,
         |    CAST(sum(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl FROM tf),
         |t AS (SELECT doc_id, dl,
         |    round(-(CAST(tf AS DOUBLE) / dl) * ln(CAST(tf AS DOUBLE) / dl), 9) AS h
         |  FROM wd)
         |SELECT doc_id, max(dl) AS n_tok, count(*) AS n_types,
         |  round(CAST(sum(CAST(h AS DECIMAL(38,9))) AS DOUBLE), 6) AS entropy
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = fanout(Tables.documents(s, d))
        .select(col("doc_id"), explode(expr(toks)).as("token"))
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val byDoc = Window.partitionBy("doc_id")
      tf.withColumn("dl", sum("tf").over(byDoc).cast("long"))
        .withColumn("h", round(-(col("tf").cast("double") / col("dl"))
          * log(col("tf").cast("double") / col("dl")), 9))
        .groupBy("doc_id")
        .agg(max("dl").as("n_tok"), count(lit(1)).as("n_types"),
          round(sum(col("h").cast(DecimalType(38, 9))).cast("double"), 6)
            .as("entropy"))
        .orderBy("doc_id")
    },

    // CORPUS N-GRAM COUNTS: the 100 most frequent word trigrams —
    // the frequency table behind n-gram LMs, contamination screens
    // (q_decontaminate broadcasts exactly such a set), and
    // boilerplate detection. Scale: trigram generation is a
    // scan-local transform over the tokenized array (the barrier
    // materializes the tokenize once), the count is one
    // partial-aggregated groupBy whose key space is the distinct
    // trigram vocabulary (zipfian — partial aggregation absorbs the
    // head), and the top-100 is TakeOrderedAndProject (per-task
    // heaps, no global sort). Ties broken by the ngram string on
    // both engines.
    Q("q_ngram_counts",
      s"""WITH w AS (SELECT $toksDuck AS w FROM documents),
         |g AS (SELECT unnest(list_transform(range(1, len(w) - 1),
         |        j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2])) AS ngram
         |      FROM w)
         |SELECT ngram, count(*) AS cnt FROM g
         |GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 100""".stripMargin) {
      (s, d) =>
      barrier(Tables.documents(s, d).withColumn("w", expr(toks)))
        .select(explode(expr(
          """CASE WHEN size(w) >= 3 THEN
            |  transform(sequence(1, size(w) - 2),
            |    j -> concat_ws(' ', element_at(w, j),
            |                   element_at(w, j + 1), element_at(w, j + 2)))
            |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
          .as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("ngram"))
        .limit(100)
    },

    // OVERLAPPING CHUNKING — the RAG/pretraining context splitter:
    // each document becomes fixed-size token windows (size 32,
    // stride 24 → 8-token overlap) so no sentence is lost at a chunk
    // boundary. The trailing window is allowed to be short — padding
    // is the training collator's job (q_pack_sequences is the
    // no-overlap packing cousin). Scale: chunk starts are a
    // scan-local `sequence`, the window slice is a scan-local
    // `slice` over the barrier-materialized token array — zero
    // shuffles before the final presentation sort; output rows ≈
    // n_tok/stride per document regardless of corpus size.
    Q("q_chunk_overlap",
      s"""WITH w AS (SELECT doc_id, $toksDuck AS w FROM documents),
         |st AS (SELECT doc_id, w, unnest(range(1, len(w) + 1, 24)) AS s
         |       FROM w WHERE len(w) > 0)
         |SELECT doc_id, (s - 1) // 24 AS chunk_id,
         |  len(list_slice(w, s, s + 31)) AS n_tok,
         |  array_to_string(list_slice(w, s, s + 31), ' ') AS chunk_text
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      barrier(Tables.documents(s, d).withColumn("w", expr(toks)))
        .filter(size(col("w")) > 0)
        .select(col("doc_id"), col("w"),
          explode(expr("sequence(1, size(w), 24)")).as("s"))
        .select(col("doc_id"),
          expr("CAST((s - 1) DIV 24 AS BIGINT)").as("chunk_id"),
          expr("CAST(size(slice(w, s, 32)) AS BIGINT)").as("n_tok"),
          expr("concat_ws(' ', slice(w, s, 32))").as("chunk_text"))
        .orderBy("doc_id", "chunk_id")
    },

    // BPE PAIR STATISTICS — the inner loop of byte-pair-encoding
    // tokenizer training: the most frequent ADJACENT SYMBOL PAIR,
    // weighted by word frequency, is the next merge rule. Computed
    // the way real BPE trainers do: first reduce the corpus to its
    // word VOCABULARY with counts (the only corpus-sized pass), then
    // expand character pairs over the vocabulary — which is
    // zipf-bounded (≪ corpus) — weighting each pair by the word's
    // count. Scale: pass 1 is one partial-aggregated groupBy (the
    // zipfian head collapses map-side); pass 2's explode runs over
    // |vocab| rows only, so 100 TB of text costs one token-count
    // shuffle + vocabulary-sized pair work; top-50 is
    // TakeOrderedAndProject. Char-bigram formation is scan-local.
    Q("q_bpe_pairs",
      s"""WITH tok AS (SELECT unnest($toksDuck) AS t FROM documents),
         |v AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
         |p AS (SELECT unnest([substring(t, i, 2) for i in range(1, len(t))]) AS pair,
         |        cnt
         |      FROM v WHERE len(t) >= 2)
         |SELECT pair, CAST(sum(cnt) AS BIGINT) AS weight FROM p
         |GROUP BY pair ORDER BY weight DESC, pair LIMIT 50""".stripMargin) {
      (s, d) =>
      val vocab = barrier(Tables.documents(s, d).withColumn("w", expr(toks)))
        .select(explode(col("w")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("cnt"))
      vocab.filter(length(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))"))
          .as("pair"), col("cnt"))
        .groupBy("pair").agg(sum("cnt").as("weight"))
        .orderBy(col("weight").desc, col("pair"))
        .limit(50)
    },

    // COLLOCATIONS — top-50 word bigrams by pointwise mutual
    // information, PMI = ln( P(x,y) / (P(x)·P(y)) ): the statistical
    // phrase detector (Mikolov-style phrase merging, terminology
    // mining, MWE extraction). Raw counts rank "of the"; PMI ranks
    // pairs that co-occur far above chance. Support floor cxy ≥ 5
    // kills the noisy log tail. Scale: bigram and unigram counts are
    // both partial-aggregated groupBys off the same barriered
    // tokenize (vocabulary-sized outputs); the marginals join back
    // onto the bigram frame by token key; the two 1-row totals
    // broadcast; top-50 is TakeOrderedAndProject. All log/division
    // math runs on identical (BIGINT-ratio) operands in both
    // engines, so even the PMI doubles hash-match.
    Q("q_collocations",
      s"""WITH w AS (SELECT $toksDuck AS w FROM documents),
         |big AS (SELECT unnest([{'x': w[i], 'y': w[i+1]}
         |          for i in range(1, len(w))]) AS b FROM w),
         |bc AS (SELECT b.x AS x, b.y AS y, count(*) AS cxy
         |       FROM big GROUP BY 1, 2),
         |uni AS (SELECT unnest(w) AS t FROM w),
         |uc AS (SELECT t, count(*) AS c FROM uni GROUP BY t),
         |tot AS (SELECT (SELECT CAST(sum(cxy) AS BIGINT) FROM bc) AS nb,
         |               (SELECT CAST(sum(c) AS BIGINT) FROM uc) AS nu)
         |SELECT bc.x || ' ' || bc.y AS bigram, cxy,
         |  round(ln((CAST(cxy AS DOUBLE) / nb) /
         |           ((CAST(ux.c AS DOUBLE) / nu) *
         |            (CAST(uy.c AS DOUBLE) / nu))), 6) AS pmi
         |FROM bc, tot, uc ux, uc uy
         |WHERE ux.t = bc.x AND uy.t = bc.y AND cxy >= 5
         |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin) { (s, d) =>
      val w = barrier(Tables.documents(s, d).withColumn("w", expr(toks)))
      val bc = w.filter(size(col("w")) >= 2)
        .select(explode(expr("""transform(sequence(1, size(w) - 1),
          |i -> struct(element_at(w, i) AS x, element_at(w, i + 1) AS y))"""
          .stripMargin)).as("b"))
        .select(col("b.x").as("x"), col("b.y").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
      val uc = w.select(explode(col("w")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
      val nb = bc.agg(sum("cxy").as("nb"))
      val nu = uc.agg(sum("c").as("nu"))
      bc.filter(col("cxy") >= 5)
        .join(uc.select(col("t").as("x"), col("c").as("cx")), "x")
        .join(uc.select(col("t").as("y"), col("c").as("cy")), "y")
        .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
        .select(concat_ws(" ", col("x"), col("y")).as("bigram"), col("cxy"),
          round(log((col("cxy").cast("double") / col("nb")) /
            ((col("cx").cast("double") / col("nu")) *
             (col("cy").cast("double") / col("nu")))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(50)
    },

    // VOCABULARY COVERAGE — the Zipf head report that sizes a
    // tokenizer vocabulary: what fraction of all token OCCURRENCES
    // do the top-10 / top-100 / top-1000 types cover? (The curve's
    // knee is where adding vocab stops paying — the standard
    // evidence behind "32k is enough"; q_bpe_pairs picks merge
    // rules, this sizes the table they fill.) No global rank
    // column: each head sum is its own TakeOrderedAndProject over
    // the pinned vocabulary frame, so NO partition-less window
    // exists at any scale (the repo-wide window discipline).
    // Coverage is a small-denominator rational → exact-integer-space
    // rounding. Scale: corpus folds ONCE to the vocabulary-sized
    // frame (partial-aggregated explode; localCheckpoint pins it
    // for its five consumers); everything after is vocab-sized or
    // k-sized.
    Q("q_vocab_coverage",
      s"""WITH tok AS (SELECT unnest($toksDuck) AS t FROM documents),
         |v AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total,
         |        count(*) AS vocab FROM v),
         |u AS (SELECT 10 AS k, CAST(sum(c) AS BIGINT) AS covered FROM
         |        (SELECT c FROM v ORDER BY c DESC, t LIMIT 10)
         |      UNION ALL
         |      SELECT 100, CAST(sum(c) AS BIGINT) FROM
         |        (SELECT c FROM v ORDER BY c DESC, t LIMIT 100)
         |      UNION ALL
         |      SELECT 1000, CAST(sum(c) AS BIGINT) FROM
         |        (SELECT c FROM v ORDER BY c DESC, t LIMIT 1000))
         |SELECT k, vocab, covered, total,
         |  CAST(floor((2 * covered * 1000000 + total) / (2.0 * total))
         |    / 1000000.0 AS DOUBLE) AS coverage
         |FROM u CROSS JOIN tot ORDER BY k""".stripMargin) { (s, d) =>
      val vocab = barrier(Tables.documents(s, d).withColumn("w", expr(toks)))
        .select(explode(col("w")).as("t"))
        .groupBy("t").agg(count(lit(1)).as("c"))
        .localCheckpoint(eager = false)
      val tot = vocab.agg(sum("c").cast("long").as("total"),
        count(lit(1)).as("vocab"))
      def head(k: Int) = vocab.orderBy(col("c").desc, col("t")).limit(k)
        .agg(lit(k).as("k"), sum("c").cast("long").as("covered"))
      head(10).unionAll(head(100)).unionAll(head(1000))
        .crossJoin(broadcast(tot))
        .selectExpr("k", "vocab", "covered", "total",
          "CAST(floor((2 * covered * 1000000 + total) / (2.0 * total))" +
            " / 1000000.0 AS DOUBLE) AS coverage")
        .orderBy("k")
    },

    // HYBRID SEARCH — reciprocal-rank fusion of the lexical (BM25)
    // and vector (cosine kNN) arms, the modern retrieval standard:
    // rrf = Σ_arms 1/(60 + rank) over each arm's top-50 (Cormack et
    // al.'s k=60), full-outer on doc so single-arm hits still score.
    // The lexical arm is the q_bm25 scorer (same terms, same
    // saturation constants); the vector arm ranks by distance to the
    // vec_id=0 query over the aligned embeddings (vec_id = doc_id).
    // Per-arm ranks come from a TRIANGULAR JOIN over each top-50
    // frame (the skyline discipline: a row's rank = 1 + better-rows
    // count; never a partition-less window) — both frames are
    // k-bounded TakeOrderedAndProject outputs, so the rank join is
    // ≤k² over broadcastable frames regardless of corpus size.
    // Scale: each arm is its own audited plan (BM25's one
    // tokenize+shuffle; kNN's scan × broadcast query); fusion adds
    // only k-sized work.
    Q("q_hybrid_search",
      s"""WITH tok AS (SELECT doc_id, unnest($toksDuck) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tok GROUP BY 1),
         |dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |terms AS (SELECT token, df FROM (SELECT token, df,
         |      row_number() OVER (ORDER BY df DESC, token) AS r FROM dfq)
         |    WHERE r BETWEEN 10 AND 17),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n,
         |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |sc AS (SELECT tf.doc_id,
         |    round(ln(1 + (st.n - t.df + 0.5) / (t.df + 0.5))
         |      * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)), 6) AS s
         |  FROM tf JOIN terms t USING (token)
         |  JOIN dl USING (doc_id) CROSS JOIN st),
         |lex AS (SELECT doc_id,
         |    round(CAST(sum(CAST(s AS DECIMAL(38,6))) AS DOUBLE), 6) AS score
         |  FROM sc GROUP BY doc_id
         |  ORDER BY score DESC, doc_id LIMIT 50),
         |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
         |      WHERE vec_id = 0),
         |vec AS (SELECT vec_id AS doc_id,
         |    round(1 - list_cosine_similarity(CAST(embedding AS DOUBLE[]),
         |      q.qv), 6) AS dist
         |  FROM embeddings, q WHERE vec_id <> 0
         |  ORDER BY dist, doc_id LIMIT 50),
         |lexr AS (SELECT a.doc_id, 1 + count(b.doc_id) AS r
         |  FROM lex a LEFT JOIN lex b ON b.score > a.score
         |    OR (b.score = a.score AND b.doc_id < a.doc_id)
         |  GROUP BY a.doc_id),
         |vecr AS (SELECT a.doc_id, 1 + count(b.doc_id) AS r
         |  FROM vec a LEFT JOIN vec b ON b.dist < a.dist
         |    OR (b.dist = a.dist AND b.doc_id < a.doc_id)
         |  GROUP BY a.doc_id)
         |SELECT doc_id, l.r AS lex_rank, v.r AS vec_rank,
         |  round(coalesce(1.0 / (60 + l.r), 0)
         |      + coalesce(1.0 / (60 + v.r), 0), 6) AS rrf
         |FROM lexr l FULL JOIN vecr v USING (doc_id)
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tok = fanout(docs)
        .select(col("doc_id"), explode(expr(toks)).as("token"))
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy("doc_id").agg(sum("tf").cast("double").as("dl"))
      val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val top17 = dfq.orderBy(col("df").desc, col("token")).limit(17)
      val top9 = dfq.orderBy(col("df").desc, col("token")).limit(9)
        .select("token")
      val terms = top17.join(top9, Seq("token"), "left_anti")
        .select("token", "df")
      val st = dl.agg((sum("dl").cast("double") / count(lit(1))).as("avgdl"))
        .crossJoin(docs.agg(count(lit(1)).as("n")))
      val lex = tf.join(broadcast(terms), "token")
        .join(dl, "doc_id").crossJoin(broadcast(st))
        .withColumn("s", round(
          log(lit(1) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
            * (col("tf") * 2.2)
            / (col("tf") + lit(1.2) * (lit(0.25)
              + lit(0.75) * col("dl") / col("avgdl"))), 6))
        .groupBy("doc_id").agg(dsum(col("s")).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
        .localCheckpoint(eager = false)
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val vec = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
        .select(col("vec_id").as("doc_id"),
          round(cosine_distance(col("embedding"), col("qe")), 6).as("dist"))
        .orderBy(col("dist"), col("doc_id")).limit(50)
        .localCheckpoint(eager = false)
      val lexr = lex.as("a").join(broadcast(lex.as("b")),
          col("b.score") > col("a.score") ||
            (col("b.score") === col("a.score") &&
              col("b.doc_id") < col("a.doc_id")), "left")
        .groupBy(col("a.doc_id").as("doc_id"))
        .agg((lit(1) + count(col("b.doc_id"))).as("r"))
      val vecr = vec.as("a").join(broadcast(vec.as("b")),
          col("b.dist") < col("a.dist") ||
            (col("b.dist") === col("a.dist") &&
              col("b.doc_id") < col("a.doc_id")), "left")
        .groupBy(col("a.doc_id").as("doc_id"))
        .agg((lit(1) + count(col("b.doc_id"))).as("r"))
      lexr.select(col("doc_id"), col("r").as("lex_rank"))
        .join(vecr.select(col("doc_id"), col("r").as("vec_rank")),
          Seq("doc_id"), "full")
        .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
          round(coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0))
            + coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0)), 6)
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
    },

    // BLOCKED FUZZY ENTITY MATCH — classic two-stage entity
    // resolution over the part-name dictionary: a cheap EQUALITY
    // blocking key (first 2 chars) turns the quadratic all-pairs
    // edit-distance problem into a hash-partitionable equi-join, and
    // the expensive Levenshtein runs only INSIDE blocks (the
    // candidate filter discipline every record-linkage system uses —
    // Fellegi-Sunter blocking; recall is traded at the block
    // boundary by design). Scale: the corpus folds ONCE to its
    // dictionary (distinct name + support count — a partial
    // aggregate; name dictionaries are zipf-bounded ≪ corpus), and
    // the self-join runs dictionary×dictionary within blocks — here
    // the dictionary broadcasts; at real vocab scale the SAME plan
    // shuffle-joins co-partitioned on the block key. Levenshtein is
    // an exact integer in both engines; ordering is total on
    // (dist, name1, name2).
    Q("q_fuzzy_match",
      """WITH dict AS (SELECT p_name AS name, count(*) AS support
        |              FROM part GROUP BY 1)
        |SELECT a.name AS name1, b.name AS name2,
        |  levenshtein(a.name, b.name) AS dist,
        |  a.support AS support1, b.support AS support2
        |FROM dict a JOIN dict b
        |  ON substr(a.name, 1, 2) = substr(b.name, 1, 2)
        | AND a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 4
        |ORDER BY dist, name1, name2""".stripMargin) { (s, d) =>
      val dict = Tables.part(s, d)
        .groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("support"))
        .withColumn("blk", substring(col("name"), 1, 2))
        .localCheckpoint(eager = false)
      dict.as("a").join(broadcast(dict.as("b")),
          col("a.blk") === col("b.blk") &&
            col("a.name") < col("b.name") &&
            levenshtein(col("a.name"), col("b.name")) <= 4)
        .select(col("a.name").as("name1"), col("b.name").as("name2"),
          levenshtein(col("a.name"), col("b.name")).as("dist"),
          col("a.support").as("support1"),
          col("b.support").as("support2"))
        .orderBy("dist", "name1", "name2")
    },

    // INVERTED INDEX BUILD — the posting-list artifact behind every
    // lexical search stack (q_bm25 SCORES with these statistics;
    // this op MATERIALIZES the index): per token, document
    // frequency, collection frequency, and the tf-ranked head of the
    // posting list, rendered as a portable "doc:tf|doc:tf" string
    // (top-100 tokens by df). Scale: corpus → (token, doc, tf) is
    // ONE partial-aggregated groupBy (the q_tfidf fold); both the
    // df/cf rollup and the per-token top-5 rank co-partition on the
    // token key (vocabulary-sized frames thereafter — the posting
    // heads carry 5 rows per token regardless of corpus size); the
    // final top-100 is a TakeOrderedAndProject. Determinism: exact
    // integer counts; posting order (tf DESC, doc ASC) and the
    // (df DESC, token) output order are total.
    Q("q_inverted_index",
      s"""WITH tok AS (SELECT doc_id, unnest($toksDuck) AS t
         |             FROM documents),
         |tf AS (SELECT t, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY t
         |      ORDER BY tf DESC, doc_id) AS rn FROM tf),
         |agg AS (SELECT t, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
         |        FROM tf GROUP BY t),
         |prev AS (SELECT t, string_agg(doc_id::VARCHAR || ':' ||
         |      tf::VARCHAR, '|' ORDER BY rn) AS top_postings
         |  FROM r WHERE rn <= 5 GROUP BY t)
         |SELECT t AS token, df, cf, top_postings
         |FROM agg JOIN prev USING (t)
         |ORDER BY df DESC, token LIMIT 100""".stripMargin) { (s, d) =>
      val tf = barrier(Tables.documents(s, d).withColumn("w", expr(toks)))
        .select(col("doc_id"), explode(col("w")).as("t"))
        .groupBy("t", "doc_id").agg(count(lit(1)).as("tf"))
        .localCheckpoint(eager = false)
      val agg = tf.groupBy("t")
        .agg(count(lit(1)).as("df"), sum("tf").cast("long").as("cf"))
      val prev = tf
        .withColumn("rn", row_number().over(
          Window.partitionBy("t").orderBy(col("tf").desc, col("doc_id"))))
        .filter(col("rn") <= 5)
        .withColumn("p", concat_ws(":", col("doc_id"), col("tf")))
        .groupBy("t")
        .agg(expr(
          "array_join(transform(array_sort(collect_list(struct(rn, p)))," +
            " x -> x.p), '|')").as("top_postings"))
      agg.join(prev, "t")
        .select(col("t").as("token"), col("df"), col("cf"),
          col("top_postings"))
        .orderBy(col("df").desc, col("token")).limit(100)
    },

    // Gopher-style quality rule battery (Rae et al. 2021, "Scaling
    // Language Models: ... Gopher", Table A1 — adapted thresholds):
    // word-count bounds, mean-word-length bounds, stopword presence,
    // alphabetic-word fraction, and a max-token-repetition bound.
    // Unlike q_quality_score's weighted composite, this is the
    // hard-filter form pre-training corpora actually apply: every
    // rule is an independent boolean and a document must pass ALL.
    // Scale: entirely scan-local per-document expressions (one
    // projection, no shuffle until the final total-order sort) —
    // a 100 TB corpus filters at scan bandwidth. Determinism: ratios
    // are exact rationals of integer token stats; rule comparisons
    // evaluate on the RAW doubles (round-half hazards only exist in
    // display columns, rounded 6dp).
    Q("q_gopher_filters",
      s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
         |f AS (SELECT doc_id, len(w) AS wc,
         |  list_sum(list_transform(w, x -> length(x))) / len(w) AS mwl_raw,
         |  len(list_filter(w, x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS stop_cnt,
         |  len(list_filter(w, x -> NOT regexp_matches(x, '[^a-z]'))) / len(w) AS alpha_raw,
         |  list_max(list_transform(list_distinct(w),
         |    u -> len(list_filter(w, x -> x = u)))) / len(w) AS rep_raw
         |  FROM t WHERE len(w) > 0)
         |SELECT doc_id, wc, round(mwl_raw, 6) AS mean_wl, stop_cnt,
         |  round(alpha_raw, 6) AS alpha_frac, round(rep_raw, 6) AS top_ratio,
         |  CAST(wc BETWEEN 30 AND 80 AS INT) AS r_wc,
         |  CAST(mwl_raw BETWEEN 3 AND 10 AS INT) AS r_mwl,
         |  CAST(stop_cnt >= 2 AS INT) AS r_stop,
         |  CAST(alpha_raw >= 0.9 AS INT) AS r_alpha,
         |  CAST(rep_raw <= 0.12 AS INT) AS r_rep,
         |  CAST(wc BETWEEN 30 AND 80 AND mwl_raw BETWEEN 3 AND 10
         |    AND stop_cnt >= 2 AND alpha_raw >= 0.9 AND rep_raw <= 0.12
         |    AS INT) AS pass
         |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      barrier(Tables.documents(s, d)
        .filter(length(trim(col("text"))) > 0)
        .withColumn("w", expr(toks)))
        .select(col("doc_id"),
          size(col("w")).as("wc"),
          expr("aggregate(w, 0, (acc, x) -> acc + length(x)) / size(w)")
            .as("mwl_raw"),
          expr("size(filter(w, x -> x IN ('the', 'a', 'of', 'to', 'and')))")
            .cast("long").as("stop_cnt"),
          expr("size(filter(w, x -> x NOT RLIKE '[^a-z]')) / size(w)")
            .as("alpha_raw"),
          expr("array_max(transform(array_distinct(w)," +
            " u -> size(filter(w, x -> x = u)))) / size(w)").as("rep_raw"))
        .select(col("doc_id"), col("wc").cast("long").as("wc"),
          round(col("mwl_raw"), 6).as("mean_wl"), col("stop_cnt"),
          round(col("alpha_raw"), 6).as("alpha_frac"),
          round(col("rep_raw"), 6).as("top_ratio"),
          expr("CAST(wc BETWEEN 30 AND 80 AS INT)").as("r_wc"),
          expr("CAST(mwl_raw BETWEEN 3 AND 10 AS INT)").as("r_mwl"),
          expr("CAST(stop_cnt >= 2 AS INT)").as("r_stop"),
          expr("CAST(alpha_raw >= 0.9 AS INT)").as("r_alpha"),
          expr("CAST(rep_raw <= 0.12 AS INT)").as("r_rep"),
          expr("CAST(wc BETWEEN 30 AND 80 AND mwl_raw BETWEEN 3 AND 10" +
            " AND stop_cnt >= 2 AND alpha_raw >= 0.9 AND rep_raw <= 0.12" +
            " AS INT)").as("pass"))
        .orderBy("doc_id")
    },

    // Positional phrase search: the inverted-index companion that
    // q_inverted_index's doc-level postings can't answer — "value
    // table" as ADJACENT tokens, not co-occurrence. Postings carry
    // (token, doc, position); the phrase is an equi-join of the two
    // terms' posting lists on (doc_id, position+1). Scale: the
    // per-term filters push to the postings build, so join volume is
    // df(term) not corpus size; on a cluster posting lists co-locate
    // by the (doc_id) join key, and a k-term phrase chains k-1 such
    // joins. Determinism: integer positions, exact counts.
    Q("q_phrase_search",
      s"""WITH t AS (SELECT doc_id, $toksDuck AS w FROM documents),
         |p AS (SELECT doc_id, w[i] AS t, i AS pos FROM t,
         |      LATERAL (SELECT unnest(generate_series(1, len(w))) AS i)),
         |hit AS (SELECT a.doc_id, count(*) AS hits
         |  FROM p a JOIN p b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  WHERE a.t = 'value' AND b.t = 'table' GROUP BY a.doc_id)
         |SELECT doc_id, hits FROM hit ORDER BY hits DESC, doc_id""".stripMargin) {
      (s, d) =>
        val post = barrier(Tables.documents(s, d).withColumn("w", expr(toks)))
          .select(col("doc_id"), posexplode(col("w")).as(Seq("pos0", "t")))
          .select(col("doc_id"), col("t"), (col("pos0") + 1).as("pos"))
        val a = post.filter(col("t") === "value")
          .select(col("doc_id"), col("pos"))
        val b = post.filter(col("t") === "table")
          .select(col("doc_id"), (col("pos") - 1).as("pos"))
        a.join(b, Seq("doc_id", "pos"))
          .groupBy("doc_id").agg(count(lit(1)).as("hits"))
          .orderBy(col("hits").desc, col("doc_id"))
    },

    // SHINGLE CONTAINMENT — the ASYMMETRIC near-dup relation
    // C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.5: catches a document
    // CONTAINED in a larger one (quote inclusion, partial scrape,
    // boilerplate wrap) that symmetric Jaccard misses by
    // construction (a 50-shingle doc inside a 500-shingle doc has
    // J ≈ 0.1 but C = 1.0 — q_dedup_near's length filter even prunes
    // the pair before verification). Candidates come from an
    // ASYMMETRIC prefix filter: under any fixed global shingle order
    // (rarity, then text), if none of A's first
    // ⌊|A| − ⌈τ·|A|⌉⌋ + 1 shingles occur in B, then
    // |∩| ≤ ⌈τ|A|⌉ − 1 < τ|A| — so only A's prefix is indexed while
    // B keeps FULL postings, and NO length ratio filter applies
    // (that's the asymmetry). Verification is the exact 60-bit
    // hash-set intersect shared with q_dedup_near. Scale: prefix
    // volume is a (1−τ) fraction of the shingle stream; the
    // candidate join is an equi-join on the shingle key (trigram
    // df ≈ 1.6 on this corpus → near-linear candidates); both
    // directions of a mutually-containing pair emerge naturally.
    Q("q_jaccard_containment",
      s"""WITH tok AS MATERIALIZED (SELECT doc_id, $toksDuck AS w FROM documents),
         |sh AS MATERIALIZED (SELECT doc_id, ${shingles3Duck("w")} AS s FROM tok
         |       WHERE len(w) >= 3),
         |${prefixCandDuck(0.5, ordered = false)},
         |${jaccardPairsDuck()}
         |SELECT id1, id2, cont FROM p WHERE cont >= 0.5
         |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      val tau = 0.5
      // Past the pairGateDocs gate: the banded top-5-per-id1 form
      // (round-16 — the asymmetric full-posting candidate join
      // filled the box's spill disk at the 100× fixture; see
      // DedupStages.containmentBanded for the directed-J recall
      // contract). Below it (every oracled sf): the declared
      // asymmetric-prefix exact plan.
      if (DedupStages.pairRoute(s, d) == "banded") {
        DedupStages.containmentBanded(s, d, tau, DedupStages.pairBucketCap(s))
          .orderBy("id1", "id2")
      } else {
      val sh = DedupStages.shingleSets(Tables.documents(s, d))
      val shN = sh.withColumn("n", size(col("s")))
      val ex = shN.select(col("doc_id"), col("n"), explode(col("s")).as("sh"))
      val freq = ex.groupBy("sh").agg(count(lit(1)).as("df"))
      val byRarity = Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))
      val prefix = ex.join(broadcast(freq), "sh")
        .withColumn("rk", row_number().over(byRarity))
        .filter(col("rk") <= col("n") - ceil(col("n") * tau) + 1)
        .select(col("doc_id"), col("sh"))
      val cand = prefix.as("a")
        .join(ex.select(col("doc_id"), col("sh")).as("b"),
          col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .distinct()
      barrier(DedupStages.verified(cand, sh.select(col("doc_id"), DedupStages.verifySet)))
        .withColumn("cont", round(col("ix") / col("na"), 6))
        .filter(col("cont") >= tau)
        .select("id1", "id2", "cont")
        .orderBy("id1", "id2")
      }
    },

    // N-GRAM NOVELTY — per document, the fraction of its distinct
    // word-trigram shingles that occur in NO other document
    // (corpus-wide df = 1): the cheap novelty/boilerplate signal a
    // curation pass ranks by (novelty ≈ 0 ⇒ assembled from corpus
    // commonplaces; ≈ 1 ⇒ genuinely new text), and the complement of
    // q_decontaminate's overlap test. Scale: shingle df is ONE
    // partial-aggregated groupBy on the shingle key; the score join
    // is an equi-join on that same key (both sides co-partition —
    // shingle-stream volume, no pair stage anywhere); per-doc
    // re-aggregation is a second partial agg. Determinism: integer
    // counts, one shared double division rounded 6dp.
    Q("q_ngram_novelty",
      s"""WITH tok AS (SELECT doc_id, $toksDuck AS w FROM documents),
         |sh AS (SELECT doc_id, unnest(${shingles3Duck("w")}) AS g
         |       FROM tok WHERE len(w) >= 3),
         |df AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
         |d AS (SELECT doc_id, count(*) AS n_shingles,
         |    CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS novel
         |  FROM sh JOIN df USING (g) GROUP BY doc_id)
         |SELECT doc_id, n_shingles, novel,
         |  round(CAST(novel AS DOUBLE) / n_shingles, 6) AS novelty
         |FROM d ORDER BY doc_id""".stripMargin) { (s, d) =>
      // The shingle stream feeds BOTH the df aggregation and the
      // score join — localCheckpoint it once so neither subtree
      // re-shingles the corpus. The join/groupBy key is the 60-bit
      // shingle hash, not the string: same counts (the q_dedup_near
      // representation; the oracle hash-match is the proof),
      // fixed-width shuffle. With this + the word_shingles kernel
      // the op went 6.1 → 1.1 s at sf0.1.
      val sh = DedupStages.shingleSets(Tables.documents(s, d))
        .filter(size(col("s")) > 0)
        .select(col("doc_id"),
          explode(expr(s"transform(s, x -> ${h60("x")})")).as("g"))
        .localCheckpoint(eager = false)
      val dfr = sh.groupBy("g").agg(count(lit(1)).as("df"))
      sh.join(dfr, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).cast("long")
            .as("novel"))
        .select(col("doc_id"), col("n_shingles"), col("novel"),
          round(col("novel").cast("double") / col("n_shingles"), 6)
            .as("novelty"))
        .orderBy("doc_id")
    },

    // LEXICAL DIVERSITY — per-document type-token ratio and hapax
    // fraction: TTR = distinct-token share (≈0 for template spam
    // repeating a vocabulary, ≈1 for telegraphic text), hapax =
    // share of tokens used exactly once in the doc (Zipf's head vs
    // tail at document granularity). The within-doc complement of
    // the corpus-level q_vocab_coverage / q_zipf_alpha, and a
    // standard curation feature next to q_quality_score /
    // q_repetition. Plan: the q_doc_entropy shape — ONE per-(doc,
    // token) groupBy, then a per-doc fold of that tf frame; no
    // second tokenize, no window over the corpus.
    Q("q_ttr",
      s"""WITH tok AS (SELECT doc_id, unnest($toksDuck) AS token FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(sum(tf) AS BIGINT) AS n_tok,
         |  count(*) AS n_types,
         |  CAST(count(*) FILTER (tf = 1) AS BIGINT) AS n_hapax,
         |  round(CAST(count(*) AS DOUBLE) / sum(tf), 6) AS ttr,
         |  round(CAST(count(*) FILTER (tf = 1) AS DOUBLE) / sum(tf), 6)
         |    AS hapax_frac
         |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = fanout(Tables.documents(s, d))
        .select(col("doc_id"), explode(expr(toks)).as("token"))
      tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .groupBy("doc_id")
        .agg(sum("tf").cast("long").as("n_tok"),
          count(lit(1)).as("n_types"),
          sum(when(col("tf") === 1, 1L).otherwise(0L)).cast("long")
            .as("n_hapax"))
        .selectExpr("doc_id", "n_tok", "n_types", "n_hapax",
          "round(CAST(n_types AS DOUBLE) / n_tok, 6) AS ttr",
          "round(CAST(n_hapax AS DOUBLE) / n_tok, 6) AS hapax_frac")
        .orderBy("doc_id")
    },

    // TEXTRANK KEYWORDS (Mihalcea & Tarau 2004) — corpus keyword
    // extraction by damped PageRank over the word co-occurrence
    // graph (tokens co-occurring within distance ≤ 2; edge weight =
    // corpus co-occurrence count): the graph-centrality "what is
    // this corpus about" signal, orthogonal to raw frequency —
    // q_tfidf weighs tokens by document contrast, q_collocations
    // scores PAIRS; TextRank scores a token by the importance of
    // its NEIGHBORS, so a mid-frequency hub outranks a frequent
    // loner. Scale: co-occurrence pairs come from two (doc,
    // position) posting equi-joins (the q_phrase_search idiom — 2×
    // token-stream volume, co-partitioned on doc); the graph folds
    // to VOCABULARY-sized edge/degree frames; each of the 3 damped
    // iterations is the q_pagerank step — edge frame static +
    // localCheckpoint, rank frame broadcast, per-edge terms
    // round(r·w/wdeg, 12) into DECIMAL(38,12) sums. Determinism:
    // integer weights/degrees, the q_pagerank rounding discipline,
    // (score DESC, token) total order.
    Q("q_textrank", TextOps.textrankSql(3)) { (s, d) =>
      val pos = barrier(Tables.documents(s, d).withColumn("w", expr(toks)))
        .select(col("doc_id"), posexplode(col("w")).as(Seq("p", "t")))
        .localCheckpoint(eager = false)
      def shift(k: Int) = pos.select(col("doc_id"),
        (col("p") - k).as("p"), col("t").as("y"))
      val pr = pos.join(shift(1), Seq("doc_id", "p"))
        .select(col("t").as("x"), col("y"))
        .unionAll(pos.join(shift(2), Seq("doc_id", "p"))
          .select(col("t").as("x"), col("y")))
        .filter(col("x") =!= col("y"))
      val ed = pr.select(col("x").as("src"), col("y").as("dst"))
        .unionAll(pr.select(col("y").as("src"), col("x").as("dst")))
        .groupBy("src", "dst").agg(count(lit(1)).cast("long").as("wt"))
      val wdeg = ed.groupBy("src").agg(sum("wt").cast("long").as("wdeg"))
      val ew = ed.join(wdeg, "src").localCheckpoint(eager = false)
      var r = wdeg.select(col("src").as("node"), lit(1.0).as("r"))
        .localCheckpoint(eager = false)
      for (_ <- 1 to 3) {
        r = ew.join(broadcast(r), ew("src") === r("node"))
          .groupBy(col("dst"))
          .agg(sum(round(col("r") * col("wt") / col("wdeg"), 12)
            .cast(DecimalType(38, 12))).as("m"))
          .select(col("dst").as("node"),
            round(lit(0.15) + lit(0.85) * col("m").cast("double"), 12)
              .as("r"))
          .localCheckpoint(eager = false)
      }
      r.select(col("node").as("token"), col("r").as("score"))
        .orderBy(col("score").desc, col("token")).limit(20)
    },
  )

  /** Unrolled TextRank oracle — q_pagerank's chained-CTE shape over
    * the weighted co-occurrence graph; posting-join pair CTEs mirror
    * the engine's two (doc, position) equi-joins. */
  private[queries] def textrankSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""m$k AS (SELECT e.dst AS node,
         |    sum(CAST(round(r.r * e.wt / e.wdeg, 12) AS DECIMAL(38,12)))
         |      AS m
         |  FROM e JOIN r${k - 1} r ON r.node = e.src GROUP BY e.dst),
         |r$k AS MATERIALIZED (SELECT node,
         |    round(0.15 + 0.85 * CAST(m AS DOUBLE), 12) AS r
         |  FROM m$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH wtok AS (SELECT doc_id, $toksDuck AS w FROM documents),
       |pos AS MATERIALIZED (SELECT doc_id, u.t AS t, u.p AS p FROM
       |  (SELECT doc_id, unnest([{'t': w[i], 'p': i}
       |     for i in range(1, len(w) + 1)]) AS u FROM wtok) z),
       |pr AS (SELECT a.t AS x, b.t AS y FROM pos a JOIN pos b
       |    ON b.doc_id = a.doc_id AND b.p = a.p + 1
       |  UNION ALL
       |  SELECT a.t, b.t FROM pos a JOIN pos b
       |    ON b.doc_id = a.doc_id AND b.p = a.p + 2),
       |ed AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS wt FROM (
       |    SELECT x AS src, y AS dst FROM pr WHERE x <> y
       |    UNION ALL SELECT y, x FROM pr WHERE x <> y) u
       |  GROUP BY 1, 2),
       |wdeg AS (SELECT src, CAST(sum(wt) AS BIGINT) AS wdeg FROM ed
       |         GROUP BY 1),
       |e AS MATERIALIZED (SELECT ed.src, ed.dst, ed.wt, wdeg.wdeg
       |  FROM ed JOIN wdeg USING (src)),
       |r0 AS MATERIALIZED (SELECT src AS node, CAST(1.0 AS DOUBLE) AS r
       |  FROM wdeg),
       |$steps
       |SELECT node AS token, r AS score FROM r$iters
       |ORDER BY r DESC, token LIMIT 20""".stripMargin
  }
}

package graft

import org.apache.spark.sql.functions._
import graft.pipeline._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("bpe train releases superseded generations: only the result's parent stays cached") {
    // 3 merges that leave pairs to merge: the final state is lazy, so the
    // one cached generation is the one it is computed from
    val d = docs(1L -> "low low low lower lowest")
    val st = leavesOnlyResult("bpe train")(Bpe.train(d, merges = 3)._2)
    assert(st.count() == 6L) // low | lowe r | lowe s t
  }

  test("batched bpe trainers release superseded generations: only the result's parent stays cached") {
    // 2 rounds that leave pairs to merge, as in the sequential case above
    val d = docs(1L -> "low low low lower lowest")
    val st = leavesOnlyResult("bpe train batched")(Bpe.trainBatched(d, rounds = 2, batch = 2)._2)
    val grouped = leavesOnlyResult("bpe train batched grouped")(
      Bpe.trainBatchedGrouped(d, rounds = 2, batch = 2)._2)
    assert(st.count() == grouped.count())
    assert(st.count() < 17L) // fewer positions than the 17 characters
  }

  test("exact dedup keeps lowest doc_id and counts copies") {
    val d = docs(1L -> "a b c", 5L -> "a b c", 3L -> "x y z")
    val m = Dedup.exact(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 2L, 3L -> 1L))
  }

  test("minhash LSH finds a near-duplicate pair and skips unrelated docs") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val other = (100 to 130).map(i => s"v$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val pairs = Dedup.minhashDedup(d, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("band-occupancy cap drops hot-key pairs, keeps cool families, no-ops when clean") {
    val family = (1 to 30).map(i => s"w$i").mkString(" ")
    val boiler = (1 to 30).map(i => s"bp$i").mkString(" ")
    // cool family {1,2}: identical text, band keys shared by exactly 2
    // docs; hot group {10..13}: identical boilerplate, every band key at
    // occupancy 4 > cap
    val d = docs(1L -> family, 2L -> family,
      10L -> boiler, 11L -> boiler, 12L -> boiler, 13L -> boiler)
    val uncapped = Dedup.minhashDedup(d, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == Set((1L, 2L), (10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L)))
    val capped = Dedup.minhashDedup(d, 0.9, maxBandOcc = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the documented recall boundary: pairs whose EVERY collision band is
    // hot are lost; the cool family survives untouched
    assert(capped == Set((1L, 2L)))
    // clean corpus (no key past the cap): capped == uncapped exactly
    val clean = docs(1L -> family, 2L -> family)
    assert(Dedup.minhashDedup(clean, 0.9, maxBandOcc = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("containment dedup scores doc-inside-doc pairs Jaccard under-scores") {
    // doc 2 = doc 1 plus a long unrelated tail: Jaccard is low (shared
    // shingles / big union) but the small doc is fully contained
    val small = (1 to 20).map(i => s"w$i").mkString(" ")
    val big = small + " " + (100 to 160).map(i => s"v$i").mkString(" ")
    val other = (200 to 240).map(i => s"u$i").mkString(" ")
    val d = docs(1L -> small, 2L -> big, 3L -> other)
    val cont = Dedup.containmentDedup(d, 0.99).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cont.keySet == Set((1L, 2L)))
    assert(cont((1L, 2L)) == 1.0) // every shingle of the small doc is in the big one
    // the symmetric Jaccard path misses the same pair at any usable threshold
    assert(Dedup.minhashDedup(d, 0.5).collect().isEmpty)
  }

  test("incremental near-dup == the union batch's at-least-one-incoming slice") {
    val emb = spark.read.parquet(
      sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.001/embeddings.parquet")
    val existing = emb.filter(col("vec_id") % 2 === 0)
    val incoming = emb.filter(col("vec_id") % 2 === 1)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    val inc = graft.pipeline.Similarity.incrementalNearDup(existing, incoming, 0.4)
      .collect().map(key).toSet
    val batchSlice = graft.pipeline.Similarity.lshNearDup(emb, 0.4)
      .filter(col("id_a") % 2 === 1 || col("id_b") % 2 === 1)
      .collect().map(key).toSet
    assert(inc == batchSlice)
  }

  test("stored-index incremental near-dup == the recompute path, pair for pair") {
    val emb = spark.read.parquet(
      sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata") + "/sf0.001/embeddings.parquet")
    val existing = emb.filter(col("vec_id") % 10 =!= 9)
    val incoming = emb.filter(col("vec_id") % 10 === 9)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getDouble(2))
    // the "stored" index: materialized full-width keys, as a pipeline
    // would persist them at previous-ingest time
    val index = Similarity.ndIndex(existing).localCheckpoint(eager = true)
    val viaIndex = Similarity.incrementalNearDup(existing, incoming, 0.4, index)
      .collect().map(key).toSet
    val recompute = Similarity.incrementalNearDup(existing, incoming, 0.4)
      .collect().map(key).toSet
    assert(viaIndex == recompute)
    assert(viaIndex.nonEmpty) // fixture sanity: the equality is not vacuous
  }

  test("prefix-filtered containment == all-pairs containment; hot shingles leave the prefixes") {
    // boilerplate-heavy corpus: every doc opens with the same 12-word
    // block (10 hot shingles with df = n_docs), then a unique tail; doc 50
    // is doc 1 plus an unrelated tail (the true containment pair)
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val base = boiler + " " + (1 to 20).map(i => s"w$i").mkString(" ")
    val rows = (1L to 40L).map(i =>
      i -> (boiler + " " + (1 to 20).map(j => s"t${i}x$j").mkString(" "))) ++
      Seq(49L -> base, 50L -> (base + " " + (100 to 140).map(i => s"v$i").mkString(" ")))
    val d = docs(rows: _*)
    val thr = 0.9
    def key(r: org.apache.spark.sql.Row) = ((r.getLong(0), r.getLong(1)), r.getDouble(2))
    val full = Dedup.containmentDedup(d, thr).collect().map(key).toMap
    val pf = Dedup.containmentDedupPrefix(d, thr).collect().map(key).toMap
    assert(full.contains((49L, 50L)))
    assert(pf == full) // identical pairs AND identical scores

    // the scale property itself: candidate fan-out. All-pairs joins the
    // full posting lists (hot shingles contribute df² each); the prefix
    // join only emits pairs through each doc's rarest shingles, which the
    // df=42 boilerplate shingles never reach at tau=0.9.
    val sh = Dedup.shingleHashes(d).persist()
    val sizes = sh.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
    val posts = sh.select(col("doc_id"), explode(col("hs")).as("h"))
    val allPairsFanout = posts.toDF("a", "h")
      .join(posts.toDF("b", "h"), Seq("h")).filter(col("a") < col("b")).count()
    val prefixFanout = Dedup.prefixPostings(posts, sizes, thr).toDF("a", "h", "n")
      .join(posts.toDF("b", "h"), Seq("h")).filter(col("a") =!= col("b")).count()
    sh.unpersist(blocking = false)
    assert(allPairsFanout > 8000L, s"fixture not hot enough: $allPairsFanout")
    assert(prefixFanout * 20 < allPairsFanout,
      s"prefix fan-out $prefixFanout not << all-pairs $allPairsFanout")
  }

  test("auto containment routes boilerplate to prefix, clean text to all-pairs, same output") {
    val thr = 0.9
    def key(r: org.apache.spark.sql.Row) = ((r.getLong(0), r.getLong(1)), r.getDouble(2))
    // hot corpus: 150 docs sharing a 12-word boilerplate opener (10
    // shingles with df = 150) + short unique tails -> ratio ≈ n/3 ≈ 50
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val base = boiler + " " + (1 to 20).map(i => s"w$i").mkString(" ")
    val hotRows = (1L to 148L).map(i =>
      i -> (boiler + " " + (1 to 20).map(j => s"t${i}x$j").mkString(" "))) ++
      Seq(149L -> base, 150L -> (base + " " + (100 to 140).map(i => s"v$i").mkString(" ")))
    val hot = docs(hotRows: _*)
    // clean corpus: fully unique tails, dfs never grow -> ratio ≈ 1
    val clean = docs((1L to 40L).map(i =>
      i -> (1 to 25).map(j => s"c${i}y$j").mkString(" ")): _*)

    val hotRatio = Dedup.containmentFanoutRatio(Dedup.shingleHashes(hot))
    val cleanRatio = Dedup.containmentFanoutRatio(Dedup.shingleHashes(clean))
    assert(hotRatio > Dedup.ContainmentAutoRatio, s"hot fixture ratio $hotRatio")
    assert(cleanRatio <= Dedup.ContainmentAutoRatio, s"clean fixture ratio $cleanRatio")

    // the route is invisible in the result: auto == both explicit paths
    val hotAuto = Dedup.containmentDedupAuto(hot, thr).collect().map(key).toMap
    assert(hotAuto == Dedup.containmentDedup(hot, thr).collect().map(key).toMap)
    assert(hotAuto.contains((149L, 150L)))
    val cleanAuto = Dedup.containmentDedupAuto(clean, thr).collect().map(key).toMap
    assert(cleanAuto == Dedup.containmentDedupPrefix(clean, thr).collect().map(key).toMap)
    assert(cleanAuto.isEmpty) // nothing contained in the clean fixture
  }

  test("incremental inverted index == batch build; batch can promote a word into top-N") {
    // existing: "aa" df=3, "bb" df=2, "rare" df=1 -> top-2 is {aa, bb}.
    // batch: two docs with "rare" -> union dfs aa=3, rare=3, bb=2 ->
    // top-2 is {aa, rare}, and rare must enter with its FULL postings
    // (existing doc 3 included) — the case a stored top-N cut cannot serve.
    val existing = docs(1L -> "aa bb", 2L -> "aa bb", 3L -> "aa rare")
    val batch = docs(10L -> "rare x", 11L -> "rare y")
    val stored = Corpus.fullPostings(existing).localCheckpoint(eager = true)
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1), r.getString(2))
    val inc = Corpus.incrementalInvertedIndex(stored, batch, topN = 2)
      .collect().map(key).toSet
    val full = Corpus.invertedIndex(existing.unionByName(batch), topN = 2)
      .collect().map(key).toSet
    assert(inc == full)
    assert(inc == Set(("aa", 3L, "1,2,3"), ("rare", 3L, "3,10,11")))
  }

  test("identical word multisets in different order share a simhash") {
    val d = docs(1L -> "alpha beta gamma delta", 2L -> "delta gamma beta alpha",
      3L -> "epsilon zeta eta theta iota kappa")
    val sigs = Dedup.simhashSignatures(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    val pairs = Dedup.simhashDedup(d, maxHamming = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("dedup clusters: transitive pairs collapse to one keeper") {
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.85), (10L, 11L, 0.95))
      .toDF("doc_a", "doc_b", "jacc")
    val m = Dedup.dedupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 1-2 and 2-3 chain into one cluster even though 1-3 was never a pair
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("leak-free split: duplicate families never straddle splits; singletons = hashSplit") {
    // 1 and 2 are near-dups (transitively 1-2 via shared shingles); 3 is
    // unrelated. Whatever split 1's text hashes to, 2 must land there too.
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 29).map(i => s"w$i").mkString(" ") + " zz"
    val other = (100 to 130).map(i => s"v$i").mkString(" ")
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val pairs = Dedup.minhashDedup(d, 0.5)
    val split = Corpus.leakFreeSplit(d, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(split.keySet == Set(1L, 2L, 3L))
    // the duplicate family shares keeper AND split — no pair straddles
    assert(split(1L) == split(2L))
    assert(split(1L)._1 == 1L)
    // the singleton keeps its own-hash assignment (keeper = self), so a
    // duplicate-free corpus degrades to exactly hashSplit's decision
    assert(split(3L)._1 == 3L)
    val ownSlot = d.filter(col("doc_id") === 3L)
      .select((graft.functions.GraftFunctions.polyHash(col("text")) % 10).as("slot"))
      .collect().head.getLong(0)
    val expected = if (ownSlot < 8) "train" else if (ownSlot == 8) "val" else "test"
    assert(split(3L)._2 == expected)
  }

  test("incremental dedup equals batch dedup of the union") {
    val a = (1 to 30).map(i => s"a$i")
    val c = (1 to 8).map(i => s"c$i")
    // shingle-Jaccard geometry at thr=0.6: J(2,4)=20/36≈0.56 (evens NOT
    // near-dups), J(2,5)=24/32=0.75 (found), J(4,5)=22/34≈0.65 (below the
    // 4x4-band S-curve knee — deterministically not recalled, same in
    // engine and oracle), J(2,7)=27/29≈0.93 (found); 6/9 singletons
    val d = docs(
      2L -> a.mkString(" "),
      4L -> (a.take(22) ++ c).mkString(" "),
      6L -> (100 to 130).map(i => s"v$i").mkString(" "),
      5L -> (a.take(26) ++ c.take(4)).mkString(" "),
      7L -> (a.take(29) :+ "zz").mkString(" "),
      9L -> (200 to 230).map(i => s"u$i").mkString(" "))
    val thr = 0.6
    val existing = Dedup.deduplicate(d.filter(col("doc_id") % 2 === 0), thr)
    val incoming = d.filter(col("doc_id") % 2 === 1)
    val inc = Dedup.incrementalDeduplicate(existing, incoming, thr)
      .collect().map(_.getLong(0)).sorted
    val batch = Dedup.deduplicate(existing.unionByName(incoming), thr)
      .collect().map(_.getLong(0)).sorted
    // the operator contract: incremental == batch dedup of the union
    assert(inc.sameElements(batch))
    // recalled pairs (2,5),(2,7) drop new docs 5 and 7 against existing 2
    assert(inc.sameElements(Array(2L, 4L, 6L, 9L)))
  }

  test("stored-index incremental dedup == the recompute path") {
    // same geometry as the union-equality fixture above: (2,5) and (2,7)
    // are the recalled cross-batch pairs
    val base = (1 to 30).map(i => s"b$i").mkString(" ")
    val other = (50 to 80).map(i => s"o$i").mkString(" ")
    val d = docs(2L -> base, 4L -> other, 5L -> base, 7L -> base,
      9L -> (90 to 99).map(i => s"q$i").mkString(" "))
    val existing = Dedup.deduplicate(d.filter(col("doc_id") % 2 === 0), 0.8)
    val incoming = d.filter(col("doc_id") % 2 === 1)
    val index = Dedup.minhashSignatures(existing).localCheckpoint(eager = true)
    val viaIndex = Dedup.incrementalDeduplicate(existing, incoming, 0.8, index)
      .collect().map(_.getLong(0)).sorted
    val recompute = Dedup.incrementalDeduplicate(existing, incoming, 0.8)
      .collect().map(_.getLong(0)).sorted
    assert(viaIndex.sameElements(recompute))
    assert(viaIndex.sameElements(Array(2L, 4L, 9L))) // 5 and 7 drop against keeper 2
  }

  test("incremental dedup drops every new copy of an existing keeper (certain recall)") {
    // exact copies share all minhash bands, so LSH recall is certain: new
    // docs 5 and 7 both duplicate existing keeper 2 and must both drop,
    // through the incoming-vs-existing band join alone
    val base = (1 to 30).map(i => s"b$i").mkString(" ")
    val other = (50 to 80).map(i => s"o$i").mkString(" ")
    val d = docs(2L -> base, 4L -> other, 5L -> base, 7L -> base, 9L -> (90 to 99).map(i => s"q$i").mkString(" "))
    val existing = Dedup.deduplicate(d.filter(col("doc_id") % 2 === 0), 0.8)
    val incoming = d.filter(col("doc_id") % 2 === 1)
    val inc = Dedup.incrementalDeduplicate(existing, incoming, 0.8)
      .collect().map(_.getLong(0)).sorted
    val batch = Dedup.deduplicate(existing.unionByName(incoming), 0.8)
      .collect().map(_.getLong(0)).sorted
    assert(inc.sameElements(batch))
    assert(inc.sameElements(Array(2L, 4L, 9L)))
  }

  test("brute-force cosine top-k ranks an identical vector first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
      (2L, Array(0.9f, 0.1f, 0.0f)),   // close
      (3L, Array(0.0f, 0.0f, 1.0f)),   // orthogonal
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(top.head._2 == 1L && top.head._3 == 1.0)
    assert(top(1)._2 == 2L && top(1)._3 > 0.99)
    assert(top(2)._3 == 0.0)
  }

  test("lsh near-dup finds identical vectors") {
    val emb = Seq(
      (0L, Array.fill(8)(1.0f)),
      (1L, Array.fill(8)(1.0f)),
      (2L, Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)),
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearDup(emb, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((0L, 1L, 1.0)))
  }

  test("language id picks the language with most stopword hits") {
    val d = docs(1L -> "the cat and the dog", 2L -> "el gato y la casa que")
    val out = TextAnalysis.langId(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "es")
  }

  test("token counts: whitespace and BPE-ish estimates") {
    val d = docs(1L -> "abcd efghijkl x")
    val r = TextAnalysis.tokenCounts(d).collect().head
    assert(r.getLong(1) == 3L)            // ws tokens
    assert(r.getLong(2) == 1 + 2 + 1)     // ceil(4/4)+ceil(8/4)+ceil(1/4)
    assert(r.getLong(3) == 13L)           // chars in words
  }

  test("fingerprint is order-sensitive and deterministic") {
    val d = docs(1L -> "a b", 2L -> "b a", 3L -> "a b")
    val fp = TextAnalysis.fingerprint(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(3L) && fp(1L) != fp(2L))
  }

  test("decontamination: gram overlap counts and the scrubbed corpus") {
    // train doc 1 embeds an eval 3-gram window; train doc 2 is unrelated
    val eval = docs(100L -> "q1 q2 q3 q4 q5")          // grams: q1q2q3 q2q3q4 q3q4q5
    val train = docs(
      1L -> "x q1 q2 q3 q4 y z",                      // shares q1q2q3, q2q3q4
      2L -> (1 to 10).map(i => s"t$i").mkString(" "))
    val counts = Decontam.overlapCounts(train, eval).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 2L))
    val clean = Decontam.decontaminate(train, eval).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L))
  }

  test("priority canonical: trusted source beats lower doc_id inside a cluster") {
    val d = Seq((1L, "t", "src5"), (2L, "t", "src1"), (3L, "t", "src5"),
        (10L, "u", "src9"))
      .toDF("doc_id", "text", "source")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L))
      .toDF("doc_id", "keeper")
    val m = Dedup.canonicalByPriority(d, clusters,
        expr("CAST(substr(source, 4) AS BIGINT)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // cluster 1: doc 2 wins on priority 1 despite doc 1's lower id
    assert(m == Set((1L, 2L, 3L), (10L, 10L, 1L)))
  }

  test("repetition metrics: looped bigrams dominate, clean text scores zero") {
    val d = docs(1L -> "a b a b a", 2L -> "p q r s", 3L -> "solo")
    val r = TextAnalysis.repetition(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    // doc 1: grams [ab, ba, ab, ba] -> 4 grams, 2 uniq, top 2
    assert(r(1L).getLong(1) == 4L && r(1L).getLong(2) == 2L && r(1L).getLong(3) == 2L)
    assert(r(1L).getDouble(4) == 0.5 && r(1L).getDouble(5) == 0.5)
    // doc 2: all grams distinct -> dup fraction 0
    assert(r(2L).getLong(1) == 3L && r(2L).getDouble(5) == 0.0)
    // doc 3: one word, no grams, guarded ratios
    assert(r(3L).getLong(1) == 0L && r(3L).getDouble(4) == 0.0)
  }

  test("bm25: rare term outranks a ubiquitous one; length normalization demotes") {
    val d = docs(
      1L -> "common rare common",
      2L -> "common filler1 filler2",
      3L -> "common filler3 filler4")
    val top = Corpus.bm25(d, 1).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // 'common' is in every doc (idf (3-3+.5)/(3.5)) — 'rare' (idf (3-1+.5)/1.5)
    // dominates doc 1 despite equal tf saturation
    assert(top(1L) == "rare")
  }

  test("text featurizer: vocabulary overlap drives cosine; composes with the vector stack") {
    import graft.pipeline.{Similarity, TextAnalysis}
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),  // identical -> cos 1
      (3L, "alpha beta gamma delta epsilon eta"),   // near-identical vocab
      (4L, "one two three four five six"))          // disjoint vocab
      .toDF("doc_id", "text")
    val emb = TextAnalysis.featurize(d).withColumnRenamed("doc_id", "vec_id")
    def cos(a: Long, b: Long): Double = {
      val m = emb.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q }.sum
      dot(m(a), m(b)) / math.sqrt(dot(m(a), m(a)) * dot(m(b), m(b)))
    }
    assert(math.abs(cos(1L, 2L) - 1.0) < 1e-12)   // identical text, identical vector
    assert(cos(1L, 3L) > cos(1L, 4L))             // shared vocab > disjoint vocab
    // composes with the ANN/near-dup stack unchanged: the exact duplicate
    // pair must surface through the banded near-dup pipeline
    val pairs = Similarity.lshNearDup(emb, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    // bit-determinism across partitionings (exact int64 sums)
    val v1 = TextAnalysis.featurize(d).collect().map(_.toString).sorted
    val v2 = TextAnalysis.featurize(d.repartition(5)).collect().map(_.toString).sorted
    assert(v1.sameElements(v2))
  }

  test("chunk duplication: shared chunks counted cross-doc, self-repeats ignored") {
    import graft.pipeline.TextAnalysis
    val a = "x" * 100 + "y" * 100            // two chunks
    val b = "x" * 100 + "z" * 100            // shares chunk 1 with a
    val c = "w" * 100 + "w" * 100 + "q" * 50 // self-repeat + unique tail
    val d = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val got = TextAnalysis.chunkDupStats(d, size = 100).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 1L, 0.5)))  // x-chunk shared with doc 2
    assert(got(2L) == ((2L, 1L, 0.5)))
    // doc 3's repeated w-chunk is ONE distinct hash in one doc: not shared
    assert(got(3L) == ((2L, 0L, 0.0)))
  }

  test("substring dedup catches a shifted span that chunk hashing misses") {
    import graft.pipeline.{Dedup, TextAnalysis}
    // a 20-word verbatim span, at word 6 in doc 1 but word 4 in doc 2: the
    // differing preambles shift the copy by 13 chars, so every fixed
    // 100-char window cuts it differently in each doc
    val span = (1 to 20).map(i => s"shared$i").mkString(" ")
    val a = "alpha beta gamma delta epsilon " + span + " " +
      (1 to 30).map(i => s"atail$i").mkString(" ")
    val b = "one two three " + span + " " +
      (1 to 30).map(i => s"btail$i").mkString(" ")
    val c = (1 to 50).map(i => s"noise$i").mkString(" ")
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")

    // fixed-window chunk hashing sees NOTHING shared (the miss this
    // operator exists to close)
    val chunkStats = TextAnalysis.chunkDupStats(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(chunkStats.values.forall(_ == 0L), s"chunk pass should miss: $chunkStats")

    // substring dedup recovers the exact span, offsets and length included
    val spans = Dedup.substringSpans(docs, k = 8, minLen = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(spans.toSeq == Seq((1L, 2L, 6L, 4L, 20L)), spans.mkString(", "))

    // a sub-minLen overlap stays silent: truncate the shared span
    val b2 = "one two three " + (1 to 12).map(i => s"shared$i").mkString(" ")
    val docs2 = Seq((1L, a), (2L, b2)).toDF("doc_id", "text")
    assert(Dedup.substringSpans(docs2, k = 8, minLen = 16).isEmpty)

    // shift-invariance: any preamble length yields the same span length
    val b3 = (1 to 7).map(i => s"pre$i").mkString(" ") + " " + span
    val docs3 = Seq((1L, a), (2L, b3)).toDF("doc_id", "text")
    val s3 = Dedup.substringSpans(docs3, k = 8, minLen = 16).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(s3.toSeq == Seq((6L, 8L, 20L)))
  }

  test("substring coverage: overlapping spans coalesce; zero-cov docs included") {
    import graft.pipeline.Dedup
    val w = (1 to 30).map(i => s"w$i")
    val a = (w ++ (1 to 10).map(i => s"atail$i")).mkString(" ")      // 40 words
    val b = (w.take(20) ++ (1 to 20).map(i => s"btail$i")).mkString(" ")
    val c = (w.drop(9) ++ (1 to 20).map(i => s"ctail$i")).mkString(" ") // w10..w30
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, (1 to 25).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    // doc 1 shares words 1-20 with doc 2 and words 10-30 with doc 3; the
    // two intervals overlap and must coalesce to 1..30 = 30 words, not 41
    val got = Dedup.substringCoverage(docs, k = 8, minLen = 16).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((40L, 30L, 0.75)), got(1L).toString)
    assert(got(2L) == ((40L, 20L, 0.5)))
    assert(got(3L) == ((41L, 21L, round6(21.0 / 41))))
    assert(got(4L) == ((25L, 0L, 0.0))) // no spans, still reported
  }

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  test("self-repeat spans: an internal copy is found; clean docs are silent") {
    import graft.pipeline.Dedup
    val span = (1 to 20).map(i => s"rep$i").mkString(" ")
    val looped = span + " " + (1 to 5).map(i => s"mid$i").mkString(" ") + " " + span
    val clean = (1 to 60).map(i => s"c$i").mkString(" ")
    val docs = Seq((1L, looped), (2L, clean)).toDF("doc_id", "text")
    val got = Dedup.selfRepeatSpans(docs, k = 8, minLen = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 1L, 26L, 20L)), got.mkString(", "))
  }

  test("incremental substring == batch union restricted to batch-touching pairs") {
    import graft.pipeline.Dedup
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val inc = Dedup.incrementalSubstringSpans(
        Dedup.substringIndex(existing), incoming).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val batch = Dedup.substringSpans(docs)
      .filter(col("doc_a") % 2 === 1 || col("doc_b") % 2 === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(inc == batch && inc.nonEmpty,
      s"extra=${(inc -- batch).take(3)} missing=${(batch -- inc).take(3)}")
    // no existing-existing pair ever surfaces
    assert(inc.forall(t => t._1 % 2 == 1 || t._2 % 2 == 1))
  }

  test("incremental substring: postings cap uses UNION counts, not per-side") {
    import graft.pipeline.Dedup
    // the shared 24-word span occurs twice on each side: per-side count 2
    // <= cap 3, union count 4 > cap — a per-side cap would anchor spans,
    // the union cap must drop every gram (matching the batch run)
    val span = (1 to 24).map(i => s"hot$i").mkString(" ")
    val mk = (i: Long) => (i, s"p${i}a p${i}b p${i}c " + span + s" t$i")
    val docs = Seq(mk(1L), mk(2L), mk(3L), mk(4L)).toDF("doc_id", "text")
    val existing = docs.filter(col("doc_id") % 2 === 0)
    val incoming = docs.filter(col("doc_id") % 2 === 1)
    val inc = Dedup.incrementalSubstringSpans(
      Dedup.substringIndex(existing), incoming, k = 8, minLen = 16, maxOcc = 3L)
    assert(inc.isEmpty) // union-hot grams anchor nothing, like the batch run
    val batch = Dedup.substringSpans(docs, k = 8, minLen = 16, maxOcc = 3L)
      .filter(col("doc_a") % 2 === 1 || col("doc_b") % 2 === 1)
    assert(batch.isEmpty)
    // sanity: below the cap the same split reports the cross-side spans
    val loose = Dedup.incrementalSubstringSpans(
      Dedup.substringIndex(existing), incoming, k = 8, minLen = 16, maxOcc = 64L)
    assert(loose.count() == 5L) // pairs (1,2),(1,3),(1,4),(2,3),(3,4): all but even-even (2,4)
  }

  test("substring scrub: one surviving copy per span chain, min-id keeps") {
    import graft.pipeline.Dedup
    val span = (1 to 20).map(i => s"s$i")
    def doc(tag: String) = (span ++ (1 to 15).map(i => s"$tag$i")).mkString(" ")
    // three docs share the same 20-word span; doc 1 must keep it, docs 2
    // and 3 must lose exactly those 20 words and nothing else
    val docs = Seq((1L, doc("a")), (2L, doc("b")), (3L, doc("c")),
      (4L, (1 to 40).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.substringScrub(docs, k = 8, minLen = 16).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((35L, 0L, doc("a"))))
    assert(got(2L) == ((35L, 20L, (1 to 15).map(i => s"b$i").mkString(" "))))
    assert(got(3L) == ((35L, 20L, (1 to 15).map(i => s"c$i").mkString(" "))))
    assert(got(4L) == ((40L, 0L, (1 to 40).map(i => s"u$i").mkString(" "))))
    // corpus-wide: exactly one copy of the span survives
    val survivors = got.values.count(_._3.contains(span.mkString(" ")))
    assert(survivors == 1)
  }

  test("boilerplate scrub: df-threshold template leaves ALL carriers, rarer spans stay") {
    import graft.pipeline.Dedup
    val tmpl = (1 to 12).map(i => s"f$i")
    def carrier(tag: String) = ((1 to 20).map(i => s"$tag$i") ++ tmpl).mkString(" ")
    val pairSpan = (1 to 10).map(i => s"p$i")
    val d = docs(
      1L -> carrier("a"), 2L -> carrier("b"), 3L -> carrier("c"), // footer df = 3
      4L -> ((1 to 20).map(i => s"d$i") ++ pairSpan).mkString(" "), // span df = 2
      5L -> ((1 to 20).map(i => s"e$i") ++ pairSpan).mkString(" "),
      6L -> (1 to 30).map(i => s"u$i").mkString(" "))
    val got = Dedup.boilerplateScrub(d, k = 8, minDf = 3L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // the shared footer vanishes from EVERY carrier — no keeper, unlike
    // the pairwise scrub's min-id convention
    assert(got(1L) == ((32L, 12L, (1 to 20).map(i => s"a$i").mkString(" "))))
    assert(got(2L) == ((32L, 12L, (1 to 20).map(i => s"b$i").mkString(" "))))
    assert(got(3L) == ((32L, 12L, (1 to 20).map(i => s"c$i").mkString(" "))))
    // a df=2 duplicated span is BELOW the frequency threshold: untouched
    // here (it's the pairwise family's job), as are clean docs
    assert(got(4L)._2 == 0L && got(5L)._2 == 0L && got(6L)._2 == 0L)
    // partition invariance (hash arithmetic + relational ops only)
    val again = Dedup.boilerplateScrub(d.repartition(7), k = 8, minDf = 3L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == got.map { case (k2, v) => k2 -> v._2 })
  }

  test("boilerplate scrub fuzz: matches a brute-force driver reimplementation") {
    import graft.pipeline.Dedup
    val rnd = new scala.util.Random(42)
    val vocab = (1 to 12).map(i => s"w$i")
    val tmpl = (1 to 9).map(i => s"T$i") // 9 words; k=8 → 2 gram starts
    val k = 8; val minDf = 3L
    val docsSeq = (1L to 40L).map { id =>
      val n = 5 + rnd.nextInt(25)
      val words = scala.collection.mutable.Buffer.fill(n)(vocab(rnd.nextInt(vocab.size)))
      // ~40% of docs splice the template at a random offset; some twice
      // (df counts DISTINCT docs, but BOTH occurrences must scrub)
      if (rnd.nextInt(10) < 4) {
        words.insertAll(rnd.nextInt(words.size + 1), tmpl)
        if (rnd.nextInt(4) == 0) words.insertAll(rnd.nextInt(words.size + 1), tmpl)
      }
      (id, words.mkString(" "))
    }
    def grams(ws: Seq[String]): Seq[(String, Int)] =
      ws.sliding(k).zipWithIndex.filter(_._1.size == k)
        .map { case (g, i) => (g.mkString(" "), i + 1) }.toSeq
    val df = docsSeq
      .flatMap { case (id, t) => grams(t.split(" ").toSeq).map(_._1).distinct.map(g => (g, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val hot = df.filter(_._2 >= minDf).keySet
    val expected = docsSeq.map { case (id, t) =>
      val ws = t.split(" ").toSeq
      val covered = Array.fill(ws.size)(false)
      grams(ws).foreach { case (g, p) =>
        if (hot(g)) (p - 1 until p - 1 + k).foreach(covered(_) = true)
      }
      val kept = ws.zipWithIndex.collect { case (w, i) if !covered(i) => w }
      (id, ws.size.toLong, (ws.size - kept.size).toLong, kept.mkString(" "))
    }.toSet
    // sanity: the fixture must actually exercise hot grams
    assert(hot.nonEmpty && expected.exists(_._3 > 0))
    val got = Dedup.boilerplateScrub(docsSeq.toDF("doc_id", "text"), k, minDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got == expected)
  }

  test("novelty fuzz: matches a brute-force driver reimplementation") {
    import graft.pipeline.TextAnalysis
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 8).map(i => s"v$i") // small vocab → real gram reuse
    val k = 4
    val docsSeq = (1L to 50L).map { id =>
      val n = 2 + rnd.nextInt(20) // some docs shorter than k → zero rows
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    def gramSet(t: String): Set[String] =
      t.split(" ").toSeq.sliding(k).filter(_.size == k).map(_.mkString(" ")).toSet
    val firstCarrier = docsSeq
      .flatMap { case (id, t) => gramSet(t).map(g => (g, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expected = docsSeq.map { case (id, t) =>
      val gs = gramSet(t)
      val novel = gs.count(g => firstCarrier(g) == id)
      val frac = if (gs.isEmpty) 0.0
        else BigDecimal(novel.toDouble / gs.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, gs.size.toLong, novel.toLong, frac)
    }.toSet
    val got = TextAnalysis.noveltyScores(docsSeq.toDF("doc_id", "text"), k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected)
  }

  test("incremental boilerplate: union df equals the batch scrub on the batch slice") {
    import graft.pipeline.Dedup
    val tmpl = (1 to 12).map(i => s"f$i")
    def carrier(tag: String) = ((1 to 20).map(i => s"$tag$i") ++ tmpl).mkString(" ")
    // footer carriers straddle the split: doc 2 is in the INDEX, docs 1
    // and 3 in the BATCH — only the union count (1 + 2 = 3) crosses
    // minDf = 3; either side alone would miss it
    val d = docs(
      1L -> carrier("a"), 2L -> carrier("b"), 3L -> carrier("c"),
      4L -> (1 to 30).map(i => s"u$i").mkString(" "),
      5L -> (1 to 30).map(i => s"v$i").mkString(" "),
      6L -> (1 to 30).map(i => s"w$i").mkString(" "))
    val even = d.filter(col("doc_id") % 2 === 0)
    val odd = d.filter(col("doc_id") % 2 === 1)
    val inc = Dedup.incrementalBoilerplateScrub(
        Dedup.boilerplateIndex(even, 8), odd, 8, minDf = 3L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val batch = Dedup.boilerplateScrub(d, 8, minDf = 3L)
      .filter(col("doc_id") % 2 === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(inc == batch)
    // and the footer really was scrubbed from the batch carriers
    val m = inc.map(t => t._1 -> t._3).toMap
    assert(m(1L) == 12L && m(3L) == 12L && m(5L) == 0L)
  }

  test("priority sampling: per-source top-k by w/u, matches driver replay") {
    val d = (1L to 40L).map(i =>
        (i, s"text body number $i", "en", s"src${i % 2}", 10L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Corpus.prioritySample(d, 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.length == 10)
    // independent driver-side replay of q = w*P / (h + 1) over ALL rows
    val all = d.select(col("source"), col("doc_id"), col("n_chars"),
        graft.functions.GraftFunctions.polyHash(col("text")).as("h")).collect()
    val exp = all.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).toSeq.flatMap { case (src, rows) =>
        rows.map { case (_, id, w, h) => (id, w, (w * TextHash.P).toDouble / (h + 1).toDouble) }
          .sortBy { case (id, _, q) => (-q, id) }
          .take(5).zipWithIndex
          .map { case ((id, w, q), i) => (src, i + 1L, id, w, q) }
      }.toSet
    assert(got.toSet == exp)
    // deterministic across partitionings
    val again = Corpus.prioritySample(d.repartition(7), 5).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(again.toSet == got.toSet)
  }

  test("novelty: first carrier scores 1.0, verbatim recombination scores 0.0") {
    // doc 1 introduces 10 words; doc 2 repeats doc 1's text verbatim
    // (zero novelty); doc 3 is fresh (full novelty); doc 4 stitches the
    // two halves of doc 1 in swapped order — its only novel 4-grams are
    // the ones straddling the stitch point
    val a = (1 to 10).map(i => s"a$i")
    val d = docs(
      1L -> a.mkString(" "),
      2L -> a.mkString(" "),
      3L -> (1 to 10).map(i => s"c$i").mkString(" "),
      4L -> (a.drop(5) ++ a.take(5)).mkString(" "))
    val got = TextAnalysis.noveltyScores(d, k = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((7L, 7L, 1.0)))  // 10 words -> 7 distinct 4-grams, all first here
    assert(got(2L) == ((7L, 0L, 0.0)))  // verbatim copy: nothing new
    assert(got(3L) == ((7L, 7L, 1.0)))
    // doc 4: grams fully inside either half (4 of them) were seen in doc
    // 1; the 3 straddling grams (a8..a1 window) are new
    assert(got(4L)._1 == 7L && got(4L)._2 == 3L)
  }

  test("incremental novelty: stored index equals recompute over the union") {
    // doc 1 (odd, in the BATCH) introduces a gram that even doc 2 (in the
    // INDEX) also carries: the batch-internal min (1) must beat the stored
    // first_doc (2) — presence-only logic would wrongly zero doc 1
    val shared = (1 to 6).map(i => s"s$i")
    val d = docs(
      1L -> (shared ++ (1 to 4).map(i => s"a$i")).mkString(" "),
      2L -> (shared ++ (1 to 4).map(i => s"b$i")).mkString(" "),
      3L -> (1 to 10).map(i => s"c$i").mkString(" "),
      4L -> (1 to 10).map(i => s"e$i").mkString(" "),
      5L -> (shared ++ (1 to 4).map(i => s"f$i")).mkString(" "))
    val even = d.filter(col("doc_id") % 2 === 0)
    val odd = d.filter(col("doc_id") % 2 === 1)
    val inc = TextAnalysis.incrementalNoveltyScores(
        TextAnalysis.noveltyIndex(even, 4), odd, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = TextAnalysis.noveltyScores(d, 4)
      .filter(col("doc_id") % 2 === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(inc == batch)
    // and the min-beats-stored case concretely: doc 1 keeps its shared
    // grams novel; doc 5 (later odd carrier) does not
    val m = inc.map(t => t._1 -> t._3).toMap
    assert(m(1L) == 7L && m(3L) == 7L && m(5L) == 4L)
  }

  test("decontam overlap scores: clean docs carry zeros, contaminated carry exact fractions") {
    import graft.pipeline.Decontam
    val evalDoc = (1 to 12).map(i => s"ev$i").mkString(" ")
    val train = docs(
      1L -> evalDoc,                                        // full overlap
      2L -> ((1 to 6).map(i => s"ev$i") ++ (1 to 6).map(i => s"t$i")).mkString(" "), // partial
      3L -> (1 to 12).map(i => s"u$i").mkString(" "))       // clean
    val got = Decontam.overlapScores(train, docs(100L -> evalDoc)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((10L, 10L, 1.0))) // 12 words -> 10 distinct 3-shingles
    assert(got(2L)._1 == 10L && got(2L)._2 == 4L && got(2L)._3 == 0.4) // ev-only shingles
    assert(got(3L) == ((10L, 0L, 0.0)))
  }

  test("linear quality gate: exact int64 dot of featurize against fixture weights") {
    val d = docs(1L -> "alpha beta gamma delta epsilon", 2L -> "zz yy xx ww vv uu tt")
    val emb = TextAnalysis.featurize(d, 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val wts = (0 until 16).map(i => (37 * (i + 1)) % 19 - 9)
    val got = TextAnalysis.scoreLinear(d, 16, 0L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    got.foreach { case (id, (score, keep)) =>
      val expScore = emb(id).zip(wts).map { case (v, wt) => v.toLong * wt }.sum
      assert(score == expScore && keep == (expScore >= 0L))
    }
  }

  test("substring dedup: postings cap drops hot grams, splitting their spans") {
    import graft.pipeline.Dedup
    // the same 24-word span in 4 docs: with maxOcc = 3 every gram of the
    // span occurs 4 times > cap, so NO span anchors anywhere (regime
    // boundary documented on the operator); with the default cap all
    // C(4,2)=6 pairs report the full span
    val span = (1 to 24).map(i => s"hot$i").mkString(" ")
    val docs = (1L to 4L).map(i =>
      (i, s"p${i}a p${i}b p${i}c " + span + s" t${i}")).toDF("doc_id", "text")
    val full = Dedup.substringSpans(docs, k = 8, minLen = 16)
    assert(full.count() == 6L)
    assert(full.collect().forall(_.getLong(4) == 24L))
    val capped = Dedup.substringSpans(docs, k = 8, minLen = 16, maxOcc = 3L)
    assert(capped.isEmpty)
  }

  test("semantic dedup: survivors = corpus minus smaller-id near-dup losers, cluster-scoped") {
    import graft.pipeline.Similarity
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    val n = emb.count()
    val pairs = Similarity.semanticNearDupPairs(emb, 8, 3, 0.4).collect()
    assert(pairs.nonEmpty)
    val survivors = Similarity.semanticDedup(emb, 8, 3, 0.4)
      .collect().map(_.getLong(0)).toSet
    // pair-wise pruning contract: losers are exactly the distinct id_b side
    val losers = pairs.map(_.getLong(2)).toSet
    assert(survivors.size + losers.size == n)
    assert(losers.intersect(survivors).isEmpty)
    // every pair is ordered and scored at/above threshold
    pairs.foreach { r =>
      assert(r.getLong(1) < r.getLong(2) && r.getDouble(3) >= 0.4)
    }
    // cluster-scoping: semantic pairs are a subset of the unscoped banded
    // near-dup pairs (the cluster conjunction only removes candidates)
    val unscoped = Similarity.lshNearDup(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.map(r => (r.getLong(1), r.getLong(2))).toSet.subsetOf(unscoped))
    // determinism across partitionings (quantized k-means + banded join)
    val again = Similarity.semanticDedup(emb.repartition(13), 8, 3, 0.4)
      .collect().map(_.getLong(0)).toSet
    assert(again == survivors)
  }

  test("importance scores: target-heavy docs score high, clean docs zero, short docs zero") {
    // target feed: two docs sharing the bigram (w1 w2); (w2 w3) appears in
    // one target doc; q-grams never appear in the target
    val target = docs(100L -> "w1 w2 w3", 101L -> "w1 w2 z1")
    val raw = docs(
      1L -> "w1 w2 w3",  // both grams target-carried: t=2+1, r=2+1 -> 1.0
      2L -> "w1 w2 q1",  // (w1 w2) t_df=2; (w2 q1) t_df=0; r = 2+1 -> 2/3
      3L -> "q7 q8 q9",  // no target gram: 0.0 with r_mass 2
      4L -> "solo")      // shorter than k=2 words: all zeros
    val got = TextAnalysis.importanceScores(raw, target, k = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((2L, 3L, 3L, 1.0)))
    assert(got(2L) == ((2L, 2L, 3L, 0.666667)))
    assert(got(3L) == ((2L, 0L, 2L, 0.0)))
    assert(got(4L) == ((0L, 0L, 0L, 0.0)))
    // partition invariance: exact integer masses, one rounded division
    val again = TextAnalysis.importanceScores(raw.repartition(7), target, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(again == got.map { case (id, t) => (id, t._2, t._3, t._4) }.toSet)
  }

  test("incremental importance: stored r_df index equals recompute over the union") {
    // gram (w1 w2) straddles the stored (doc 2) and batch (docs 1, 5)
    // sides: the batch r_df must be stored + batch-internal (1 + 2 = 3),
    // not presence-or — a max/overwrite merge would misprice it
    val target = docs(100L -> "w1 w2 w3")
    val raw = docs(
      1L -> "w1 w2 q1",
      2L -> "w1 w2 q2",
      3L -> "q7 q8 q9",
      4L -> "w2 w3 q3",
      5L -> "w1 w2 q5")
    val even = raw.filter(col("doc_id") % 2 === 0)
    val odd = raw.filter(col("doc_id") % 2 === 1)
    val inc = TextAnalysis.incrementalImportanceScores(
        TextAnalysis.importanceIndex(even, 2), target, odd, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    val batch = TextAnalysis.importanceScores(raw, target, 2)
      .filter(col("doc_id") % 2 === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(inc == batch)
    // and the straddle concretely: docs 1/5 see r_df(w1 w2) = 3
    val m = inc.map(t => t._1 -> t._4).toMap
    assert(m(1L) == 4L && m(5L) == 4L) // 3 (w1 w2) + 1 (w2 qX)
  }

  test("cluster-quota sample: per-cluster cap binds, full quota returns everyone") {
    // two well-separated blobs -> Lloyd with k=2 splits them exactly
    val emb = ((0L to 5L).map(i => (i, Array(0.0f + i * 0.01f, 0.0f))) ++
      (10L to 13L).map(i => (i, Array(10.0f + i * 0.01f, 10.0f))))
      .toDF("vec_id", "embedding")
    val capped = Similarity.clusterQuotaSample(emb, k = 2, iterations = 3, quota = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // every cluster contributes exactly min(quota, size) = 3 rows, rn 1..3
    assert(capped.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._2).sorted.sameElements(Array(1L, 2L, 3L)) })
    assert(capped.length == 6)
    // blob membership respected: ids never cross blobs within a cluster
    val byCluster = capped.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(byCluster.values.forall(ids => ids.forall(_ <= 5L) || ids.forall(_ >= 10L)))
    // a quota >= blob size returns every vector, and the draw is
    // deterministic under repartitioning
    val all = Similarity.clusterQuotaSample(emb.repartition(5), 2, 3, quota = 100)
      .collect().map(_.getLong(2)).toSet
    assert(all == (0L to 5L).toSet ++ (10L to 13L).toSet)
  }

  test("multimodal: stub features are deterministic; metadata path prunes payload") {
    val d = Seq((1L, "hello", "en", "src1", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val media = Multimodal.binarize(d)
    val f = Multimodal.extractFeatures(media).collect().head
    assert(f.n_bytes == 5L)
    assert(f.width == 32 + 'h'.toInt % 97)
    assert(f.mean_byte == "hello".map(_.toInt).sum.toDouble / 5)
    // metadata-only plan must not reference the binary column
    val plan = Multimodal.metadata(media).queryExecution.optimizedPlan.toString
    assert(!plan.contains("content"))
  }

  test("winnowing: selection density, coverage guarantee, edit stability") {
    // 40-word doc and a copy with ONE word edited far from the shared run:
    // any shared window of w + k - 1 = 6 words must contribute >= 1 common
    // fingerprint (the winnowing coverage theorem), and the pair must meet
    // the catalog threshold while an unrelated doc shares nothing
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val edited = ((1 to 35).map(i => s"tok$i") ++ Seq("CHANGED") ++
      (37 to 40).map(i => s"tok$i")).mkString(" ")
    val other = (200 to 240).map(i => s"z$i").mkString(" ")
    val d = docs(1L -> base, 2L -> edited, 3L -> other)
    val fps = Dedup.winnowIndex(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // density: per doc, |selected| is ~2/(w+1) of the 38 grams — between
    // the hard floor (1 per disjoint window) and the gram count
    val perDoc = fps.groupBy(_._1).view.mapValues(_.length).toMap
    assert(perDoc(1L) >= 38 / 4 && perDoc(1L) < 38)
    val pairs = Dedup.winnowPairs(d, minShared = 4L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // the 35-word shared prefix alone has 33 - 5 = 28+ full windows
    assert(pairs.head._3 >= 4L)
  }

  test("winnow df cap drops template pairs, keeps the cool family; incremental == restriction") {
    val family = (1 to 40).map(i => s"fam$i").mkString(" ")
    val boiler = (1 to 40).map(i => s"bp$i").mkString(" ")
    // cool pair {1,2}; docs 10-15 all share the boilerplate template
    val d = docs(Seq(1L -> family, 2L -> family) ++
      (10 to 15).map(i => i.toLong -> boiler): _*)
    val uncapped = Dedup.winnowPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // template prints carried by 6 docs > cap 4 leave; family df=2 stays
    val capped = Dedup.winnowPairs(d, 3, 4, 4L, 4L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.size == 1 + 15)
    assert(capped == Set((1L, 2L)))
    // incremental (odd incoming vs even stored index) == batch restricted
    val stored = Dedup.winnowIndex(d.filter(col("doc_id") % 2 === 0))
    val inc = Dedup.incrementalWinnowPairs(stored, d.filter(col("doc_id") % 2 === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = Dedup.winnowPairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(p => p._1 % 2 == 1 || p._2 % 2 == 1).toSet
    assert(inc == full)
  }

  test("winnow auto-route: replica-heavy corpus dedups first where the naive cap empties") {
    // the BASELINE r12 100x regime, in miniature: 10 exact replicas of a
    // template A plus ONE near-dup B of A (shares A's 30-word prefix) and
    // an unrelated doc. Naive capped screen: every A-print has df 11 >
    // cap 4, so ALL of them leave the join and the genuine A~B evidence
    // vanishes (the documented fork). Auto route: the probe ratio
    // 12/3 = 4 > 2 collapses the A-family to its min-id representative
    // first, so A's prints carry df 2 (rep + B) and the pair surfaces.
    val tmplA = (1 to 40).map(i => s"fam$i").mkString(" ")
    val nearB = ((1 to 30).map(i => s"fam$i") ++ (300 to 310).map(i => s"q$i")).mkString(" ")
    val other = (200 to 240).map(i => s"z$i").mkString(" ")
    val d = docs(Seq(50L -> nearB, 60L -> other) ++
      (1 to 10).map(i => i.toLong -> tmplA): _*)
    val naiveCapped = Dedup.winnowPairs(d, 3, 4, 4L, 4L).collect()
    assert(naiveCapped.isEmpty)
    val routed = Dedup.winnowPairsAuto(d, 3, 4, 4L, 4L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // representative of the A-family is min doc_id 1; pair (1, 50) found
    assert(routed == Set((1L, 50L)))
    // and on a low-duplication corpus the route is the capped screen
    // verbatim (the catalog/oracle contract at every real sf)
    val low = docs(1L -> tmplA, 2L -> nearB, 3L -> other)
    val direct = Dedup.winnowPairs(low, 3, 4, 4L, 4L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val auto = Dedup.winnowPairsAuto(low, 3, 4, 4L, 4L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto == direct && auto.map(p => (p._1, p._2)) == Set((1L, 2L)))
  }

  test("winnowing: doc shorter than the window still fingerprints; sub-k doc yields none") {
    val d = docs(1L -> "a b c d", 2L -> "a b") // 2 grams / 0 grams at k=3
    val byDoc = Dedup.winnowIndex(d).collect().groupBy(_.getLong(0))
    assert(byDoc(1L).nonEmpty) // global min when grams < w
    assert(!byDoc.contains(2L))
  }

  test("semi-hard negatives: band excludes the near-identical and the unrelated") {
    def v(xs: Double*) = xs.toArray.map(_.toFloat)
    val anchor = v(1, 0, 0, 0, 0, 0, 0, 0)
    val nearDup = v(0.99, 0.1, 0, 0, 0, 0, 0, 0) // cos ~0.995 -> above ceil
    val semiHard = v(0.2, 1, 0, 0, 0, 0, 0, 0) // cos ~0.196 -> in band
    val unrelated = v(0, 0, 0, 0, 0, 0, 0, 1) // cos 0 -> below floor
    val emb = Seq((0L, anchor), (1L, nearDup), (2L, semiHard), (3L, unrelated))
      .toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(emb, emb.filter(col("vec_id") === 0L), 5)
      .collect().map(r => r.getLong(2)).toSet
    assert(out == Set(2L))
  }
}

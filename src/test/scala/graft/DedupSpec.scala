package graft

import graft.ext.Dedup
import org.apache.spark.sql.functions._

/** Near-dedup family (ext/Dedup.scala): shingling, Jaccard, MinHash-LSH and
  * SimHash candidate generation with exact verification, rolling hash. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 0
    (2L, "completely different words entirely unrelated text"),
    (3L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (4L, "x")                                              // < n tokens
  ).toDF("doc_id", "text")

  test("shingles: distinct n-grams, empty under n tokens") {
    val sh = docs.select($"doc_id",
      Dedup.shingles(Dedup.tokens($"text"), 2).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(0L).contains("the quick") && sh(0L).contains("lazy dog"))
    assert(sh(0L).length == 8) // 9 tokens -> 8 bigrams, all distinct
    assert(sh(4L).isEmpty)
  }

  test("jaccard: exact dup 1.0, near-dup high, disjoint 0") {
    val sh = docs.select($"doc_id",
      Dedup.shingles(Dedup.tokens($"text"), 2).as("sh"))
    val j = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        Dedup.jaccard($"a.sh", $"b.sh").as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((0L, 3L)) == 1.0)
    assert(j((0L, 1L)) > 0.7 && j((0L, 1L)) < 1.0)
    assert(j((0L, 2L)) == 0.0)
    assert(j((0L, 4L)) == 0.0) // empty shingle set
  }

  test("minhash LSH finds exact+near dups, nothing else, deterministically") {
    val out = Dedup.nearDupMinhash(docs, "doc_id", "text", tau = 0.7)
      .orderBy("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((0L, 1L), (0L, 3L), (1L, 3L)))
    // partition-independence
    val out2 = Dedup.nearDupMinhash(docs.repartition(7), "doc_id", "text", tau = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out2.toSet == out.toSet)
  }

  test("prefix-filtered exact Jaccard == brute force, including boundary sizes") {
    // nearDupJaccardExact must equal all-pairs Jaccard for ANY corpus —
    // that's its contract. Mix the standard docs with boundary-size texts
    // where the prefix bound ⌈τ|s|⌉ lands exactly on/off an integer
    // (|s| = 5, 10, 15 at τ = 4/5) and a pair sharing ONLY its last-ordered
    // shingle (completeness would fail if prefixes were one too short).
    val corpus = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++ Seq(
      (10L, "aa bb cc dd ee ff"),                // 5 bigrams
      (11L, "aa bb cc dd ee gg"),                // 4/6 shared: J=0.667 < 0.8
      (12L, "aa bb cc dd ee ff"),                // exact dup of 10
      (13L, "k1 k2 k3 k4 k5 k6 k7 k8 k9 ka kb"), // 10 bigrams
      (14L, "k1 k2 k3 k4 k5 k6 k7 k8 k9 ka kc"), // 9/11 shared: J=0.818
      (15L, "zz k1 k2 k3 k4 k5 k6 k7 k8 k9 ka")  // shares 9, J = 9/13
    )).toDF("doc_id", "text")
    val sh = corpus.select($"doc_id",
      Dedup.shingles(Dedup.tokens($"text"), 2).as("sh"))
      .filter(size($"sh") > 0)
    val brute = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .filter(Dedup.jaccard($"a.sh", $"b.sh") >= 0.8)
      .select($"a.doc_id", $"b.doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pref = Dedup.nearDupJaccardExact(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pref == brute)
    assert(brute.contains((10L, 12L)) && brute.contains((13L, 14L)))
    assert(!brute.contains((10L, 11L)))
  }

  test("prefix-filtered exact Jaccard == brute force on a seeded random corpus") {
    // 60 docs over an 8-word vocabulary, lengths 2..13 (fixed seed):
    // tiny vocab forces heavy shingle sharing, mid-τ J values, and
    // length-filter boundaries — the regime where the in-join positional
    // + hash filters and the early-exit merge walk would first lose a
    // pair if any bound were off by one.
    val rnd = new scala.util.Random(20260813L)
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val base = (0 until 60).map { i =>
      val len = 2 + rnd.nextInt(12)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // plant twins of the longer docs (exact, and one-word-appended) so
    // true pairs exist at and near the τ boundary among the random junk
    val twins = base.filter(_._2.split(" ").length >= 10).take(6)
      .zipWithIndex.flatMap { case ((id, text), j) =>
        Seq((100L + 2 * j, text), (101L + 2 * j, text + " " + vocab(j % vocab.length)))
      }
    val corpus = (base ++ twins).toDF("doc_id", "text")
    val sh = corpus.select($"doc_id",
      Dedup.shingles(Dedup.tokens($"text"), 2).as("sh"))
      .filter(size($"sh") > 0)
    val brute = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .filter(Dedup.jaccard($"a.sh", $"b.sh") >= 0.8)
      .select($"a.doc_id", $"b.doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pref = Dedup.nearDupJaccardExact(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pref == brute)
    assert(brute.nonEmpty) // the corpus must actually exercise the pass
  }

  test("containmentPairs == brute-force ordered containment; asymmetric") {
    // doc 20 is a strict shingle-subset of doc 21 (a quote inside a
    // longer doc): C(20→21) = 1.0 but the Jaccard is 5/11 — the case
    // the asymmetric metric exists for. 23 shares 4/5 of 22's shingles.
    val corpus = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++ Seq(
      (20L, "aa bb cc dd ee ff"),
      (21L, "zz yy aa bb cc dd ee ff xx ww vv uu"),
      (22L, "k1 k2 k3 k4 k5 k6"),
      (23L, "k1 k2 k3 k4 k5 q9")
    )).toDF("doc_id", "text")
    val sh = corpus.select($"doc_id",
        Dedup.shingles(Dedup.tokens($"text"), 2).as("sh"))
      .filter(size($"sh") > 0)
    val brute = sh.as("a").join(sh.as("b"), $"a.doc_id" =!= $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        size(array_intersect($"a.sh", $"b.sh")).as("inter"),
        size($"a.sh").as("na"))
      .filter($"inter" * 5 >= $"na" * 4)
      .select($"doc_a", $"doc_b",
        expr("(CAST(inter AS BIGINT) * 1000000) div na"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = Dedup.containmentPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === brute)
    assert(got.contains((20L, 21L, 1000000L))) // full containment
    assert(!got.exists(p => p._1 == 21L && p._2 == 20L)) // not symmetric
    assert(got.contains((22L, 23L, 800000L))) // 4/5 boundary inclusive
  }

  test("containmentPairs == brute force on the seeded random corpus") {
    val rnd = new scala.util.Random(20260814L)
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val base = (0 until 50).map { i =>
      val len = 2 + rnd.nextInt(12)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // plant supersets: a long doc wrapping a short doc's full text
    val wraps = base.filter(_._2.split(" ").length <= 5).take(6)
      .zipWithIndex.map { case ((_, text), j) =>
        (200L + j, s"${vocab(j % 8)} ${vocab((j + 3) % 8)} " + text +
          " " + base(j * 3)._2)
      }
    val corpus = (base ++ wraps).toDF("doc_id", "text")
    val sh = corpus.select($"doc_id",
        Dedup.shingles(Dedup.tokens($"text"), 2).as("sh"))
      .filter(size($"sh") > 0)
    val brute = sh.as("a").join(sh.as("b"), $"a.doc_id" =!= $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        size(array_intersect($"a.sh", $"b.sh")).as("inter"),
        size($"a.sh").as("na"))
      .filter($"inter" * 5 >= $"na" * 4)
      .select($"doc_a", $"doc_b",
        expr("(CAST(inter AS BIGINT) * 1000000) div na"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = Dedup.containmentPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === brute)
    assert(brute.nonEmpty)
  }

  test("simhash blocks find exact+near dups with exact verify") {
    val out = Dedup.nearDupSimhash(docs, "doc_id", "text", tau = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("simhash block values: identical docs collide on all 4 blocks") {
    val bv = docs.select($"doc_id",
      array(Dedup.simhashBlockValues(
        Dedup.shingles(Dedup.tokens($"text"), 2)): _*).as("blocks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(bv(0L) == bv(3L))
    // block offsets partition the keyspace by position
    assert(bv(0L).zipWithIndex.forall { case (v, q) =>
      v >= q.toLong * 4294967296L && v < (q + 1).toLong * 4294967296L })
    // near-dup shares at least one block with its twin
    assert(bv(0L).intersect(bv(1L)).nonEmpty)
  }

  test("rolling fingerprint: deterministic, whitespace-insensitive, bounded") {
    val fp = spark.createDataset(Seq(
        ("a b", 1L), ("a  \t b", 2L), ("ab", 3L), ("", 4L)))
      .toDF("t", "i")
      .select($"i", Dedup.rollingFingerprint($"t").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))      // \s+ collapsed
    assert(fp(1L) != fp(3L))      // space matters once normalised
    assert(fp(4L) == 0L)
    // hand-computed: "ab" -> (0*31+97)*31+98 mod p = 3105 (97*31+98)
    assert(fp(3L) == 97L * 31 + 98)
    // kernel == HOF semantic reference on the fixture corpus
    val fixture = Tables.load(spark, sf(), "documents")
    val diff = fixture.select(
        Dedup.rollingFingerprint($"text").as("a"),
        Dedup.rollingFingerprintHof($"text").as("b"))
      .filter($"a" =!= $"b").count()
    assert(diff == 0)
  }

  test("bpe-ish tokens split letter runs, digits, punctuation") {
    val n = spark.createDataset(Seq("Hello, world42!"))
      .toDF("t").select(size(Dedup.tokensBpeish($"t")).as("n"))
      .head().getInt(0)
    // hello , world 4 2 ! -> 6
    assert(n == 6)
  }

  test("dedupGroups: chains collapse to min id, singletons stay themselves") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // chain 3-2, 2-1 (one component {1,2,3}); pair 5-4; 9 isolated
    val pairs = Seq((2L, 3L), (1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupGroups(ids, pairs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (9L, 9L)))
  }

  test("dedupGroups ≡ union-find: converged labels, pair endpoints, one row per id") {
    // a 40-node path listed high end first: its min id is 39 hops from
    // the far end, past any small round bound
    val path = (0 until 39).map(i => (140L - i, 139L - i))
    // 500 and 501 are pair endpoints missing from ids; 7 and 8 are isolated
    val pairs = path ++ Seq((3L, 500L), (501L, 4L))
    val idList = (101L to 140L) ++ Seq(3L, 4L, 7L, 8L, 7L, 120L, 3L)
    val nodes = (idList ++ pairs.flatMap(p => Seq(p._1, p._2))).distinct
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = if (parent(x) == x) x else find(parent(x))
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      parent(ra max rb) = ra min rb
    }
    val want = nodes.map(n => n -> find(n)).sorted
    val got = Dedup.dedupGroups(idList.toDF("doc_id"),
        pairs.toDF("doc_a", "doc_b").repartition(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === want)
    assert(got.count(_._2 == 101L) === 40)
    assert(got.contains((500L, 3L)) && got.contains((501L, 4L)))
    assert(got.contains((7L, 7L)) && got.contains((8L, 8L)))
  }

  test("dupSpanStats: equals a naive recomputation, partition-independent") {
    val k = 8
    val fixture = Tables.load(spark, sf(), "documents")
    val run = (df: org.apache.spark.sql.DataFrame) =>
      Dedup.dupSpanStats(df, "doc_id", "text", k)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
    val got = run(fixture)

    // naive single-machine reference over the collected fixture
    val toks = fixture.select($"doc_id", Dedup.tokens($"text").as("ts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    val gramCount = scala.collection.mutable.Map.empty[String, Int]
    val starts = toks.map { case (id, ts) =>
      id -> (0 to ts.length - k).map(i => ts.slice(i, i + k).mkString(" "))
    }
    starts.values.flatten.foreach(g => gramCount(g) = gramCount.getOrElse(g, 0) + 1)
    val naive = toks.collect { case (id, ts) if ts.nonEmpty =>
      val dupStarts = starts(id).zipWithIndex
        .collect { case (g, i) if gramCount(g) > 1 => i.toLong }
      val covered = dupStarts.foldLeft((0L, Option.empty[Long])) {
        case ((acc, prev), p) =>
          (acc + prev.fold(k.toLong)(q => math.min(k.toLong, p - q)), Some(p))
      }._1
      id -> (ts.length.toLong, dupStarts.size.toLong, covered,
        covered * 1000000L / ts.length)
    }.toMap
    assert(naive.nonEmpty && naive.exists(_._2._2 > 0))
    assert(got === naive)
    assert(run(fixture.repartition(7)) === got)
  }

  test("dupSpanRemove: equals a naive cut, coverage-consistent with dupSpanStats") {
    val k = 8
    val fixture = Tables.load(spark, sf(), "documents")
    val got = Dedup.dupSpanRemove(fixture, "doc_id", "text", k)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap

    val toks = fixture.select($"doc_id", Dedup.tokens($"text").as("ts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    val gramCount = scala.collection.mutable.Map.empty[String, Int]
    val starts = toks.map { case (id, ts) =>
      id -> (0 to ts.length - k).map(i => ts.slice(i, i + k).mkString(" "))
    }
    starts.values.flatten.foreach(g => gramCount(g) = gramCount.getOrElse(g, 0) + 1)
    val naive = toks.collect { case (id, ts) if ts.nonEmpty =>
      val covered = starts(id).zipWithIndex
        .collect { case (g, p) if gramCount(g) > 1 => p }
        .flatMap(p => p until p + k).toSet
      val kept = ts.zipWithIndex.collect { case (t, i) if !covered.contains(i) => t }
      id -> (ts.length.toLong, kept.length.toLong, kept.mkString(" "))
    }.toMap
    assert(naive.exists { case (_, (n, kept, _)) => kept < n }, "no spans were cut")
    assert(got === naive)

    // the apply tier removes exactly what the stats tier counts
    val coveredTok = Dedup.dupSpanStats(fixture, "doc_id", "text", k)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    got.foreach { case (id, (n, kept, _)) =>
      assert(n - kept == coveredTok(id), s"doc $id: cut ${n - kept} != counted ${coveredTok(id)}")
    }
  }

  test("dupSpan family: random corpora with planted spans match the naive replay") {
    val k = 4
    for (seed <- Seq(11L, 42L, 77L)) {
      val rnd = new scala.util.Random(seed)
      val vocab = (0 until 20).map(i => s"w$i")
      // random docs incl. sub-k and empty; then plant structure:
      // cross-doc window copies and one wholesale duplicate
      val base = (0 until 30).map { id =>
        id.toLong -> Vector.fill(rnd.nextInt(41))(vocab(rnd.nextInt(vocab.size)))
      }.toMap
      val planted = {
        var m = base
        for (_ <- 0 until 6) {
          val from = rnd.nextInt(30).toLong
          val to = rnd.nextInt(30).toLong
          val src = m(from)
          if (src.length >= k && from != to) {
            val p = rnd.nextInt(src.length - k + 1)
            val ins = rnd.nextInt(m(to).length + 1)
            m = m.updated(to, m(to).patch(ins, src.slice(p, p + k), 0))
          }
        }
        m.updated(30L, m(rnd.nextInt(30).toLong)) // wholesale copy
      }
      val df = spark.createDataFrame(
        planted.toSeq.map { case (id, ts) => (id, ts.mkString(" ")) })
        .toDF("doc_id", "text")

      // naive replay over the token vectors
      val gramCount = scala.collection.mutable.Map.empty[String, Int]
      val starts = planted.map { case (id, ts) =>
        id -> (0 to ts.length - k).map(i => ts.slice(i, i + k).mkString(" "))
      }
      starts.values.flatten.foreach(g => gramCount(g) = gramCount.getOrElse(g, 0) + 1)
      def coveredOf(id: Long): Set[Int] = starts(id).zipWithIndex
        .collect { case (g, p) if gramCount(g) > 1 => p }
        .flatMap(p => p until p + k).toSet
      val nonEmpty = planted.filter(_._2.nonEmpty)
      val naiveStats = nonEmpty.map { case (id, ts) =>
        val c = coveredOf(id)
        val dupStarts = starts(id).zipWithIndex.count { case (g, _) => gramCount(g) > 1 }
        id -> (ts.length.toLong, dupStarts.toLong, c.size.toLong,
          c.size.toLong * 1000000L / ts.length)
      }
      val naiveClean = nonEmpty.map { case (id, ts) =>
        val c = coveredOf(id)
        val kept = ts.zipWithIndex.collect { case (t, i) if !c.contains(i) => t }
        id -> (ts.length.toLong, kept.length.toLong, kept.mkString(" "))
      }
      assert(naiveStats.exists(_._2._3 > 0), s"seed $seed planted no duplicates")

      val gotStats = Dedup.dupSpanStats(df, "doc_id", "text", k)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      val gotClean = Dedup.dupSpanRemove(df, "doc_id", "text", k)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
        .toMap
      assert(gotStats === naiveStats, s"stats diverged at seed $seed")
      assert(gotClean === naiveClean, s"removal diverged at seed $seed")
    }
  }

  test("canonicalDocs: best-quality winner, smallest-id tie-break, exact totals") {
    import spark.implicits._
    // group 1: docs 1,2,3 with quality 10, 30, 30 → 2 wins the tie vs 3.
    // group 7: singleton keeps itself.
    val groups = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L))
      .toDF("doc_id", "canon_id")
    val quality = Seq((1L, 10L), (2L, 30L), (3L, 30L), (7L, 5L))
      .toDF("doc_id", "quality")
    val got = Dedup.canonicalDocs(groups, quality, "quality")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got === Map(
      1L -> ((2L, 30L, 3L, 70L)),
      7L -> ((7L, 5L, 1L, 5L))))
    // partition independence
    val got7 = Dedup.canonicalDocs(groups.repartition(7), quality.repartition(3),
        "quality")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got7 === got)
  }

  test("leakSafeSplit: groups never straddle splits, replayable, covers all three") {
    import spark.implicits._
    import graft.learn.DetRandom
    // 300 docs in 100 components of 3 — wide enough that all three
    // splits appear with overwhelming probability under any seed
    val groups = (0L until 300L).map(i => (i, (i / 3) * 3))
      .toDF("doc_id", "canon_id")
    val got = Dedup.leakSafeSplit(groups, seed = 42L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.length === 300)
    // the draw is exactly mix(canon_id) mod 10 with the 8/1/1 rule
    got.foreach { case (_, canon, bucket, split) =>
      assert(bucket === DetRandom.mixLong(canon, canon, 42L) % 10)
      val expected =
        if (bucket < 8) "train" else if (bucket == 8) "val" else "test"
      assert(split === expected)
    }
    // one split per component — the leakage guarantee
    got.groupBy(_._2).foreach { case (_, members) =>
      assert(members.map(_._4).distinct.length === 1)
    }
    assert(got.map(_._4).distinct.sorted === Array("test", "train", "val"))
    // partition independence
    val got7 = Dedup.leakSafeSplit(groups.repartition(7), seed = 42L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got7.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** Unit specs for relational / dedup / aggregation operators, pinning the
  * J1/J6 semantics gotchas from SURVEY.md §2. */
class OpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("keepFirst dedup is deterministic under ties (J1)") {
    val df = Seq(("a", 2, "second"), ("a", 1, "first"), ("b", 5, "only"))
      .toDF("k", "ord", "v")
    val got = Dedup.keepFirst(df, Seq("k"), Seq(col("ord").asc))
      .orderBy("k").select("v").as[String].collect().toSeq
    assert(got == Seq("first", "only"))
  }

  test("pivot with explicit values emits missing levels as 0 (J6)") {
    val df = Seq((1L, "A"), (1L, "A"), (2L, "R")).toDF("id", "flag")
    val got = Aggregates.pivotCounts(df, "id", "flag", Seq("A", "N", "R"), "cnt_")
      .orderBy("id").collect()
    assert(got.map(_.toSeq).toSeq == Seq(Seq(1L, 2L, 0L, 0L), Seq(2L, 0L, 0L, 1L)))
  }

  test("null-ratio column pruning (C4, challenge2.py:81-82)") {
    val df = Seq((1, Some("x"), None: Option[String]),
      (2, None, None), (3, None, None), (4, None, None),
      (5, None, None), (6, None, None), (7, None, None),
      (8, None, None), (9, None, None), (10, None, None))
      .toDF("id", "mostly_null", "all_null")
    // mostly_null: 9/10 = 90% nulls → pruned at the 0.9 threshold; id stays
    val kept = Dedup.pruneMostlyNullColumns(df, 0.9).columns.toSeq
    assert(kept == Seq("id"))
    val keptLoose = Dedup.pruneMostlyNullColumns(df, 0.95).columns.toSeq
    assert(keptLoose == Seq("id", "mostly_null"))
  }

  test("null-ratio pruning keeps the per-column count aggregate's survivors (C4)") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    // the one-aggregate form the per-ordinal pass replaced
    def aggregateForm(df: DataFrame, maxNullRatio: Double): DataFrame = {
      val cs = df.columns.toSeq
      val row = df.select(
        (count(lit(1)).alias("__n") +: cs.map(c => count(when(qcol(c).isNull, 1)).alias(c))): _*
      ).head()
      val n = row.getLong(0).max(1L)
      val keep = cs.filter(c => row.getLong(cs.indexOf(c) + 1).toDouble / n < maxNullRatio)
      df.select(keep.map(qcol): _*)
    }
    // 123 columns (past spark.sql.codegen.maxFields) cycling string, map,
    // array and int; column j is null in exactly j % 41 of the 40 rows,
    // spread over all 4 partitions: 0%..100% null, with 36/40 = 90% exact
    val nRows = 40
    val width = 123
    val schema = StructType((0 until width).map { j =>
      val t = j % 4 match {
        case 0 => StringType
        case 1 => MapType(StringType, IntegerType)
        case 2 => ArrayType(IntegerType)
        case _ => IntegerType
      }
      StructField(if (j == 7) "dotted.c7" else s"c$j", t)
    })
    val rows = (0 until nRows).map { r =>
      Row((0 until width).map { j =>
        if ((r + j) % nRows < j % 41) null
        else j % 4 match {
          case 0 => s"s$r"
          case 1 => Map("k" -> r)
          case 2 => Seq(r, j)
          case _ => r
        }
      }: _*)
    }
    val wide = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    assert(wide.queryExecution.toRdd.getNumPartitions == 4)
    for (ratio <- Seq(0.9, 0.5, 1.0, 0.0)) {
      val got = Dedup.pruneMostlyNullColumns(wide, ratio)
      val want = aggregateForm(wide, ratio)
      assert(got.columns.toSeq == want.columns.toSeq, s"ratio $ratio")
      assert(got.collect().toSeq == want.collect().toSeq, s"ratio $ratio")
    }
    // the 90% boundary: 36/40 null is pruned, 35/40 is kept
    val kept90 = Dedup.pruneMostlyNullColumns(wide, 0.9).columns.toSet
    assert(!kept90.contains("c36") && kept90.contains("c35") && kept90.contains("dotted.c7"))
    assert(kept90.size == 3 * 36)
    // an empty frame keeps every column, with and without partitions
    for (empty <- Seq(wide.filter(lit(false)),
                      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))) {
      assert(Dedup.pruneMostlyNullColumns(empty, 0.9).columns.toSeq == wide.columns.toSeq)
      assert(aggregateForm(empty, 0.9).columns.toSeq == wide.columns.toSeq)
    }
  }

  test("existence filter handles dotted column names (No. of episodes)") {
    val df = Seq(("m1", Some("link"), None: Option[Int]),
      ("tv", Some("link"), Some(12)),
      ("m2", None, None))
      .toDF("title", "imdb_link", "No. of episodes")
    val got = Filters.existence(df, Seq("imdb_link"), Seq("No. of episodes"))
      .select("title").as[String].collect().toSeq
    assert(got == Seq("m1"))
  }

  test("synonym merge coalesces rather than overwrites (F2)") {
    val df = Seq((Some("dir-a"), None: Option[String]), (None, Some("dir-b")),
      (Some("dir-c"), Some("loser")))
      .toDF("Director", "Directed by")
    val got = Cleaning.mergeSynonyms(df, Map("Director" -> Seq("Directed by")))
    assert(got.columns.toSeq == Seq("Director"))
    assert(got.as[String].collect().toSeq == Seq("dir-a", "dir-b", "dir-c"))
  }

  test("synonym merge keeps the withColumn/drop fold's release-date chain (F2)") {
    // "Original release" is both a canonical key and a variant of "Release
    // date", so the result depends on SynonymMap's iteration order. The two
    // "Release D/date" spellings only coexist under case-sensitive analysis.
    def fold(df: org.apache.spark.sql.DataFrame) =
      pipeline.MoviesEtl.SynonymMap.foldLeft(df) { case (d, (canon, variants)) =>
        val present = (canon +: variants).filter(d.columns.contains).distinct
        if (present.isEmpty) d
        else d.withColumn(canon, coalesce(present.map(qcol): _*))
          .drop(present.filterNot(_ == canon): _*)
      }
    val saved = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val n = None: Option[String]
      val df = Seq(("a", n, Some("R1"), n, n), ("b", Some("RD2"), Some("R2"), Some("O2"), Some("d2")),
        ("c", Some("RD3"), n, n, n), ("d", n, Some("R4"), Some("O4"), n),
        ("e", n, n, n, n), ("f", Some("RD6"), Some("R6"), n, n))
        .toDF("title", "Release Date", "Released", "Original release", "Release date")
      val got = Cleaning.mergeSynonyms(df, pipeline.MoviesEtl.SynonymMap)
      val want = fold(df)
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(got.collect().toSeq == want.collect().toSeq)
      // "Release date" merges first and absorbs "Original release"; the
      // later "Original release" entry re-creates it from the two others
      assert(got.columns.toSeq == Seq("title", "Release date", "Original release"))
      assert(got.as[(String, Option[String], Option[String])].collect().toSeq == Seq(
        ("a", None, Some("R1")), ("b", Some("d2"), Some("RD2")), ("c", None, Some("RD3")),
        ("d", Some("O4"), Some("R4")), ("e", None, None), ("f", None, Some("RD6"))))
    } finally spark.conf.set("spark.sql.caseSensitive", saved)
  }

  test("alt-title consolidation builds a non-null map (F1)") {
    val df = Seq(("t1", Some("aka"), None: Option[String]))
      .toDF("title", "Also known as", "French")
    val got = Cleaning.consolidateToMap(df, Seq("Also known as", "French"), "alt_titles")
    assert(got.columns.toSeq == Seq("title", "alt_titles"))
    val m = got.select("alt_titles").as[Map[String, String]].head()
    assert(m == Map("Also known as" -> "aka"))
  }

  test("jaccard / minhash agree on identical and disjoint docs") {
    val df = Seq(("a b c", "a b c"), ("a b c", "x y z")).toDF("t1", "t2")
    val jac = df.select(ScaleDedup.jaccard(
      ScaleDedup.tokenSet(col("t1")), ScaleDedup.tokenSet(col("t2"))).alias("j"))
      .as[Double].collect().toSeq
    assert(jac == Seq(1.0, 0.0))
    // identical docs ⇒ identical minhash signatures
    val sig = Seq("a b c", "c b a", "x y z").toDF("text")
      .select(ScaleDedup.minhashSignature(ScaleDedup.tokenSet(col("text")), 4): _*)
      .collect()
    assert(sig(0).toSeq == sig(1).toSeq) // order-insensitive
    assert(sig(0).toSeq != sig(2).toSeq)
  }

  test("simhash: near-identical docs have small hamming distance") {
    // expected distances (computed against an independent implementation
    // of the same md5-based simhash): near=3, far=7
    val df = Seq((
      "the quick brown fox jumps over the lazy dog while rain falls softly on green hills near town",
      "the quick brown fox jumps over the lazy cat while rain falls softly on green hills near town",
      "totally unrelated corpus segment about database engines shuffle partitions and vectorized execution kernels here"))
      .toDF("a", "b", "c")
    val r = df.select(
      ScaleDedup.hammingDistance(
        ScaleDedup.simhash(ScaleDedup.tokenSet(col("a"))),
        ScaleDedup.simhash(ScaleDedup.tokenSet(col("b")))).alias("near"),
      ScaleDedup.hammingDistance(
        ScaleDedup.simhash(ScaleDedup.tokenSet(col("a"))),
        ScaleDedup.simhash(ScaleDedup.tokenSet(col("c")))).alias("far")).head()
    assert(r.getAs[Long]("near") < r.getAs[Long]("far"))
  }

  test("cosine similarity: known vectors") {
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(Similarity.asDouble(col("a")), Similarity.asDouble(col("b"))).alias("same"),
      Similarity.cosine(Similarity.asDouble(col("a")), Similarity.asDouble(col("c"))).alias("orth"))
      .head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("native minhash kernel matches the Column-expression form exactly") {
    val docs = Tables.documents(spark, sf0).limit(200)
    // 6 hashes: exercises the salted second digest group AND a partial slice
    val toks = ScaleDedup.tokenSet(col("text"))
    val native = docs.select(col("doc_id") +: ScaleDedup.minhashSignature(toks, 6): _*)
      .orderBy("doc_id").collect().toSeq
    val colExpr = docs.select(col("doc_id") +: ScaleDedup.minhashSignatureCols(toks, 6): _*)
      .orderBy("doc_id").collect().toSeq
    assert(native == colExpr)
  }

  test("native shingle-minhash kernel matches the Column-expression form exactly") {
    val docs = Tables.documents(spark, sf0).limit(200)
    val native = docs
      .select(col("doc_id") +: ScaleDedup.shingleSignature(col("text"), 3, 2): _*)
      .orderBy("doc_id").collect().toSeq
    val sh = ScaleDedup.shingles(col("text"), 3)
    val colExpr = docs
      .select(col("doc_id") +: size(sh).cast("long").alias("n_shingles") +:
        ScaleDedup.minhashSignatureCols(sh, 2): _*)
      .orderBy("doc_id").collect().toSeq
    assert(native == colExpr)
  }

  test("native top-ngram kernel matches the Column-expression form exactly") {
    val docs = Tables.documents(spark, sf0).limit(200)
    // planted boilerplate exercises repeated grams; n=2 and n=3 widths
    val line1 = substring(col("text"), 1, 40)
    val dirty = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit("\n"), line1, lit("\n"), line1)).otherwise(col("text"))
    Seq(2, 3).foreach { n =>
      val native = docs.select(col("doc_id"),
          TextAnalysis.topNgramCharFraction(dirty, n).alias("f"))
        .orderBy("doc_id").collect().toSeq
      val colExpr = docs.select(col("doc_id"),
          TextAnalysis.topNgramCharFractionCols(dirty, n).alias("f"))
        .orderBy("doc_id").collect().toSeq
      assert(native == colExpr, s"n=$n")
    }
  }

  test("native shingle-hashes kernel matches the Column-expression form exactly") {
    val docs = Tables.documents(spark, sf0).limit(200)
    // k=13 (the decontamination width, longer than short docs) and k=3
    Seq(3, 13).foreach { k =>
      val native = docs.select(col("doc_id"),
          graft.functions.MinHashSig.shingle_hashes(split(col("text"), " "), k).alias("hs"))
        .orderBy("doc_id").collect().toSeq
      val colExpr = docs.select(col("doc_id"),
          ScaleDedup.shingleHashesCols(col("text"), k).alias("hs"))
        .orderBy("doc_id").collect().toSeq
      assert(native == colExpr, s"k=$k")
    }
  }

  test("native simhash kernel matches the Column-expression form exactly") {
    val docs = Tables.documents(spark, sf0).limit(200)
    val toks = ScaleDedup.tokenSet(col("text"))
    val native = docs.select(col("doc_id"), ScaleDedup.simhash(toks, 16).alias("sh"))
      .orderBy("doc_id").collect().toSeq
    val colExpr = docs.select(col("doc_id"), ScaleDedup.simhashCols(toks, 16).alias("sh"))
      .orderBy("doc_id").collect().toSeq
    assert(native == colExpr)
  }

  test("upsert: matched keys take the WHOLE update row, including genuine nulls") {
    val t = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "v")
    val u = Seq((2L, null.asInstanceOf[String], 99.0), (3L, "c", 30.0)).toDF("k", "name", "v")
    val got = Joins.upsert(t, u, Seq("k")).orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getDouble(2))).toSeq
    // key 2's name becomes NULL — row-wise replace, NOT per-column coalesce
    assert(got == Seq((1L, Some("a"), 10.0), (2L, None, 99.0), (3L, Some("c"), 30.0)))
  }

  test("multi-probe LSH is a strict recall superset of single-bucket LSH") {
    val emb = Tables.embeddings(spark, sf0)
    val q = emb.orderBy("vec_id").limit(1)
      .select(Similarity.asDouble(col("embedding")).alias("qv"))
    // k larger than any bucket population: compare full candidate recall,
    // not top-k truncation
    val single = Similarity.lshTopK(emb, "vec_id", "embedding", q,
      dim = 64, k = 100000, nPlanes = 8).select("vec_id").as[Long].collect().toSet
    val multi = Similarity.lshTopKMultiProbe(emb, "vec_id", "embedding", q,
      dim = 64, k = 100000, nPlanes = 8).select("vec_id").as[Long].collect().toSet
    assert(single.subsetOf(multi), "multi-probe lost exact-bucket candidates")
    assert(multi.size > single.size,
      s"expected Hamming-1 probes to add candidates (single=${single.size}, multi=${multi.size})")
  }

  test("multi-probe IVF is a strict recall superset of single-cell IVF") {
    val emb = Tables.embeddings(spark, sf0)
    val q = emb.orderBy("vec_id").limit(1)
      .select(Similarity.asDouble(col("embedding")).alias("qv"))
    val single = Similarity.ivfTopK(emb, "vec_id", "embedding", q,
      k = 100000, nCells = 8).select("vec_id").as[Long].collect().toSet
    val multi = Similarity.ivfTopKMultiProbe(emb, "vec_id", "embedding", q,
      k = 100000, nCells = 8, nProbe = 2).select("vec_id").as[Long].collect().toSet
    assert(single.subsetOf(multi), "multi-probe lost nearest-cell candidates")
    assert(multi.size > single.size,
      s"expected the runner-up cell to add candidates (single=${single.size}, multi=${multi.size})")
  }

  test("connected components: 1024-node path converges in ≤20 pointer-jumped rounds") {
    // A path graph is the worst case for label propagation: diameter 1023,
    // so plain min-label flooding needs ~1023 rounds. Converging within the
    // default 20-round budget is direct evidence the pointer jumping
    // (path halving) delivers its log-diameter bound.
    val n = 1024L
    val vertices = spark.range(n).select(col("id"))
    val edges = spark.range(n - 1)
      .select(col("id").alias("id1"), (col("id") + 1).alias("id2"))
    val labels = ScaleDedup.connectedComponents(vertices, edges, maxIter = 20)
    val roots = labels.select("label").distinct().collect().map(_.getLong(0)).toSeq
    assert(roots == Seq(0L), s"expected one component rooted at 0, got $roots")
    assert(labels.count() == n)
  }

  test("minhash LSH finds planted near-duplicates") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base + " lambda"), // near-dup pair
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "completely unrelated content words here between documents"))
      .toDF("doc_id", "text")
    val pairs = ScaleDedup.minhashCandidatePairs(docs, "doc_id", "text", 8, 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((3L, 4L)))
  }

  test("decontamination: short eval docs collide via their whole-text shingle") {
    // eval doc shorter than n=13 tokens hashes its whole text as one
    // shingle; a verbatim corpus copy must still be caught
    val corpus = Seq((1L, "tiny leaked quiz answer"), (2L, "unrelated words here"))
      .toDF("doc_id", "text")
    val evalSet = Seq(Tuple1("tiny leaked quiz answer")).toDF("etext")
    val kept = ScaleDedup.decontaminate(corpus, "doc_id", "text",
        evalSet, "etext", n = 13)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(2L))
  }

  test("BPE kernel is code-point safe on non-ASCII text") {
    import spark.implicits._
    // é is one code point (2 UTF-8 bytes); 𝄞 (U+1D11E) is a surrogate pair
    val got = Seq("café", "a𝄞b").toDF("text")
      .select(graft.functions.Bpe.bpe_tokens(col("text"),
        graft.ops.TextAnalysis.DefaultBpeMerges).alias("t"))
      .as[Seq[String]].collect().toSeq
    assert(got(0) == Seq("c", "a", "f", "é"))
    assert(got(1) == Seq("a", "𝄞", "b"))
  }

  test("sequence packing: a document longer than the budget spans sequences") {
    val df = Seq(("a", 1L, 1200L), ("a", 2L, 100L)).toDF("src", "id", "n")
    val got = Pack.packGreedy(df, "src", "id", "n", budget = 512)
      .orderBy("id").select("id", "seq_id", "seq_offset")
      .as[(Long, Long, Long)].collect().toSeq
    // doc 1 starts at 0; doc 2 starts at 1200 = 2*512 + 176
    assert(got == Seq((1L, 0L, 0L), (2L, 2L, 176L)))
    intercept[IllegalArgumentException] {
      Pack.packGreedy(df, "src", "id", "n", budget = 0)
    }
  }

  test("sequence packing cuts at the token budget, shards independent") {
    val df = Seq(
      ("a", 1L, 300L), ("a", 2L, 300L), ("a", 3L, 500L),
      ("b", 1L, 100L))
      .toDF("src", "id", "n")
    val got = Pack.packGreedy(df, "src", "id", "n", budget = 512)
      .orderBy("src", "id")
      .select("src", "id", "seq_id", "seq_offset")
      .as[(String, Long, Long, Long)].collect().toSeq
    // shard a: doc1 starts at 0 (seq 0), doc2 at 300 (seq 0, straddles the
    // cut), doc3 at 600 (seq 1 offset 88); shard b restarts at 0
    assert(got == Seq(("a", 1L, 0L, 0L), ("a", 2L, 0L, 300L),
      ("a", 3L, 1L, 88L), ("b", 1L, 0L, 0L)))
  }

  test("batched BPE trainer with batchSize=1 equals the sequential trainer") {
    val docs = Seq("the then there and other another then the",
      "in inner and then another the other").toDF("text")
    val seqMerges = TextAnalysis.bpeTrainMerges(docs, "text", 8)
    val (batch1, _) = TextAnalysis.bpeTrainMergesBatched(docs, "text", 8,
      batchSize = 1)
    assert(batch1 == seqMerges)
    // with a real batch, each round's FIRST pick is the sequential pick
    val (batched, _) = TextAnalysis.bpeTrainMergesBatched(docs, "text", 8,
      batchSize = 4)
    assert(batched.head == seqMerges.head)
    // adopted pairs within a round are symbol-disjoint by construction:
    // applying the batched table must leave no listed pair unmerged
    // inside any single word (merges never cross word boundaries)
    val words = Seq("the", "then", "there", "and", "other", "another",
      "in", "inner").toDF("w")
    val applied = words.select(graft.functions.Bpe.bpe_tokens(col("w"),
      batched).alias("t")).as[Seq[String]].collect()
    val pairSet = batched.toSet
    applied.foreach(_.sliding(2).foreach { w =>
      if (w.size == 2) assert(!pairSet((w(0), w(1))),
        s"unmerged pair (${w(0)},${w(1)})")
    })
  }

  test("BPE merges artifact round-trips through parquet in adoption order") {
    val docs = Seq("the then there and other another then the").toDF("text")
    val merges = TextAnalysis.bpeTrainMerges(docs, "text", 6)
    val dir = java.nio.file.Files.createTempDirectory("bpe-artifact")
      .resolve("merges").toString
    TextAnalysis.saveBpeMerges(spark, merges, dir)
    val loaded = TextAnalysis.loadBpeMerges(spark, dir)
    assert(loaded == merges)
    // the loaded artifact applies identically to the in-memory table
    val a = docs.select(graft.functions.Bpe.bpe_tokens(col("text"), merges))
      .as[Seq[String]].head()
    val b = docs.select(graft.functions.Bpe.bpe_tokens(col("text"), loaded))
      .as[Seq[String]].head()
    assert(a == b)
  }

  test("batched BPE trainer reaches 256 merges within 10 jobs") {
    // a name-shaped corpus (id-tagged words + hex fingerprints) has the
    // symbol diversity of real text; the sequential trainer would need
    // 256 jobs here, the batched one must stay within 10
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = (0 until 1000).map { i =>
      val hex = md.digest(s"w$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      "Customer#%04d %s".format(i, hex)
    }
    val docs = rows.toDF("text")
    val (merges, rounds) =
      TextAnalysis.bpeTrainMergesBatched(docs, "text", numMerges = 256)
    assert(merges.size >= 256, s"only ${merges.size} merges")
    assert(rounds <= 10, s"took $rounds rounds")
  }

  test("fuzzy dedup collapses a planted near-dup family exact dedup keeps") {
    // three near-identical docs (one token added / one substituted) plus an
    // unrelated doc: distinct fingerprints, so exact dedup keeps all four;
    // the LSH pair -> connected-components -> min-id path must collapse the
    // family to its min id (the q_llm_prep_fuzzy composition, in miniature)
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),
      (3L, base.replace("tok7 ", "tok7x ")),
      (100L, (1 to 50).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val exact = ScaleDedup.exactDedupGroups(docs, "doc_id", "text")
    assert(exact.count() == 4)  // exact-only: every family member survives
    val pairs = ScaleDedup.minhashCandidatePairs(docs, "doc_id", "text",
      numHashes = 4, bands = 2)
    val labels = ScaleDedup.connectedComponents(
      docs.select(col("doc_id").alias("id")), pairs)
    val canon = labels.filter(col("label") === col("id"))
      .select("id").as[Long].collect().toSet
    assert(canon == Set(1L, 100L), s"fuzzy survivors were $canon")
  }

  test("packEmit: every sequence except a shard's last has exactly budget tokens") {
    // shard a: 23 tokens over 3 docs, budget 8 -> seqs of 8, 8, 7;
    // shard b: 5 tokens -> one (short, last) seq
    def toks(prefix: String, n: Int) = (1 to n).map(i => s"$prefix$i")
    val df = Seq(
      ("a", 1L, toks("x", 10)), ("a", 2L, toks("y", 6)), ("a", 3L, toks("z", 7)),
      ("b", 1L, toks("w", 5)))
      .toDF("src", "id", "toks")
    val got = Pack.packEmit(df, "src", "id", "toks", budget = 8)
      .orderBy("src", "seq_id")
      .select("src", "seq_id", "n_toks", "toks")
      .as[(String, Long, Long, Seq[String])].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq(("a", 0L, 8L), ("a", 1L, 8L), ("a", 2L, 7L), ("b", 0L, 5L)))
    // a doc straddling the cut contributes head to one seq, tail to next:
    // doc x has 10 tokens, so seq 0 = x1..x8 and seq 1 starts x9 x10 y1...
    assert(got(0)._4 == toks("x", 8))
    assert(got(1)._4 == Seq("x9", "x10") ++ toks("y", 6))
    // every sequence except its shard's last is exactly `budget` tokens
    val lastSeq = got.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    got.foreach { case (src, seq, n, _) =>
      if (seq != lastSeq(src)) assert(n == 8L, s"seq ($src,$seq) has $n") }
  }

  test("frozen-vocab unigram scorer gives OOV tokens the floor") {
    val docs = Seq((1L, "aa bb"), (2L, "aa zz")).toDF("id", "text")
    val vocab = Seq(("aa", -1.0), ("bb", -2.0)).toDF("token", "logp")
    val got = TextAnalysis.unigramScoreFrozen(docs, "id", "text", vocab,
      oovLogProb = -10.0)
      .orderBy("id").as[(Long, Double)].collect().toSeq
    // doc 1: (-1 + -2)/2 = -1.5; doc 2: zz is OOV -> (-1 + -10)/2 = -5.5
    assert(got == Seq((1L, -1.5), (2L, -5.5)))
    // vocab-cap guard fires loudly instead of packing an oversized map
    val err = intercept[Exception] {
      TextAnalysis.unigramScoreFrozen(docs, "id", "text", vocab,
        oovLogProb = -10.0, maxVocab = 1).collect()
    }
    assert(err.getMessage.contains("vocab exceeds"))
  }

  test("overlapping chunker: stride, shared overlap, clipped tail") {
    // 10 tokens, size 4, overlap 2 -> stride 2 -> ceil(8/2) = 4 chunks
    val text = (1 to 10).map(i => s"t$i").mkString(" ")
    val got = Seq(text).toDF("text")
      .select(TextAnalysis.chunkOverlap(col("text"), 4, 2))
      .as[Seq[String]].head()
    assert(got == Seq("t1 t2 t3 t4", "t3 t4 t5 t6", "t5 t6 t7 t8",
      "t7 t8 t9 t10"))
    // adjacent chunks share exactly `overlap` tokens
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(a.split(" ").takeRight(2).toSeq == b.split(" ").take(2).toSeq)
    case _ => }
    // a doc shorter than one window is one clipped chunk
    val short = Seq("a b").toDF("text")
      .select(TextAnalysis.chunkOverlap(col("text"), 4, 2))
      .as[Seq[String]].head()
    assert(short == Seq("a b"))
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkOverlap(col("text"), 4, 4)
    }
  }

  test("degenerate inputs: empty batch, empty shard, empty frozen vocab") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val docs = Seq((1L, "aa bb")).toDF("doc_id", "text")
    // empty new batch against a corpus -> nothing survives, no errors
    assert(ScaleDedup.dedupAgainst(empty, docs, "doc_id", "text").count() == 0)
    // empty existing corpus -> the whole batch survives
    assert(ScaleDedup.dedupAgainst(docs, empty, "doc_id", "text").count() == 1)
    // packEmit on an empty frame emits no sequences
    val emptyToks = Seq.empty[(String, Long, Seq[String])]
      .toDF("src", "id", "toks")
    assert(Pack.packEmit(emptyToks, "src", "id", "toks", 8).count() == 0)
    // empty frozen vocab -> every token scores the OOV floor
    val noVocab = Seq.empty[(String, Double)].toDF("token", "logp")
    val got = TextAnalysis.unigramScoreFrozen(docs, "doc_id", "text",
      noVocab, oovLogProb = -3.0).as[(Long, Double)].head()
    assert(got == ((1L, -3.0)))
  }

  test("train/val split is stable under corpus growth") {
    val small = (1L to 100L).toDF("id")
    val large = (1L to 1000L).toDF("id")
    def labels(df: org.apache.spark.sql.DataFrame) =
      Pack.trainValSplit(df, "id", 0.1)
        .select("id", "split").as[(Long, String)].collect().toMap
    val s = labels(small); val l = labels(large)
    // every id present in both keeps its label when the corpus grows
    assert(s.forall { case (id, lab) => l(id) == lab })
    // and the val fraction is roughly right on the larger draw
    val nVal = l.values.count(_ == "val")
    assert(nVal > 50 && nVal < 150, s"val count $nVal")
  }

  test("stratified sampling is deterministic and monotone in rate") {
    val df = (1L to 400L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "src")
    def ids(rates: Map[String, Double]) =
      Mix.stratifiedSample(df, "src", "id", rates)
        .select("id").as[Long].collect().toSet
    val half = ids(Map("a" -> 0.5, "b" -> 0.0))
    val quarter = ids(Map("a" -> 0.25, "b" -> 0.0))
    // deterministic: same call, same set
    assert(half == ids(Map("a" -> 0.5, "b" -> 0.0)))
    // monotone: lower rate selects a subset of the higher rate's rows
    assert(quarter.subsetOf(half))
    // roughly the right fraction of the 200 'a' rows, and zero 'b' rows
    assert(half.size > 70 && half.size < 130)
    assert(half.forall(_ % 2 == 0))
    // rate 1.0 default keeps everything
    assert(Mix.stratifiedSample(df, "src", "id", Map.empty).count() == 400L)
  }

  test("Lloyd k-means centroids migrate to cluster means despite one-sided init") {
    // both seed centroids start inside cluster A; Lloyd must move one of
    // them to capture cluster B around (10, 10)
    val vecs = Seq(
      (1L, Array(0.0, 0.0)), (2L, Array(0.2, 0.0)), (3L, Array(0.0, 0.2)),
      (10L, Array(10.0, 10.0)), (11L, Array(10.2, 10.0)), (12L, Array(10.0, 10.2)))
      .toDF("id", "v")
    val cents = Similarity.kmeansCentroids(vecs, "id", "v",
        nCells = 2, iters = 3, dim = 2)
      .orderBy("cid").select("cv").as[Seq[Double]].collect()
    assert(cents.length == 2)
    val Seq(a, b) = cents.sortBy(_.head).toSeq
    val meanA = Seq(0.2 / 3, 0.2 / 3)
    val meanB = Seq(10.0 + 0.2 / 3, 10.0 + 0.2 / 3)
    a.zip(meanA).foreach { case (x, m) => assert(math.abs(x - m) < 1e-6) }
    b.zip(meanB).foreach { case (x, m) => assert(math.abs(x - m) < 1e-6) }
  }

  test("lof: isolated point scores far above the dense cluster") {
    // five points in a tight 0.1-side square + one at (2,2), one cell
    // (single centroid), k=3: the outlier's reachability is ~20x the
    // cluster's, so LOF(outlier) >> 1 while the cluster sits near 1.
    val pts = Seq(
      (1L, Array(0.0, 0.0)), (2L, Array(0.1, 0.0)), (3L, Array(0.0, 0.1)),
      (4L, Array(0.1, 0.1)), (5L, Array(0.05, 0.05)), (6L, Array(2.0, 2.0)))
      .toDF("id", "v")
    val cents = Seq((0L, Array(0.0, 0.0))).toDF("cid", "cv")
    val got = Similarity.lof(pts, "id", "v", cents, k = 3)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(5))).toSeq
    assert(got.forall(_._2 == 3L))            // full kNN everywhere
    val (inliers, outlier) = got.partition(_._1 != 6L)
    assert(outlier.head._3 > 5.0, s"outlier LOF ${outlier.head._3}")
    assert(inliers.forall(_._3 < 1.5), s"inlier LOFs $inliers")
  }

  test("dbscan2d: known geometry yields core chain, border adoption, noise") {
    // eps=1, minPts=3. Chain A (ids 1-4, spacing 0.5) is all core; id 5
    // sits 0.9 from the chain's end with only one eps-neighbor → border
    // adopting A's min-id cluster; triangle B (ids 6-8) is all core in its
    // own cluster; id 9 is isolated noise. The chain spans several grid
    // cells, so the 3x3 probe replication is exercised, not just same-cell
    // pairs.
    val pts = Seq(
      (1L, Array(0.0, 0.0)), (2L, Array(0.5, 0.0)), (3L, Array(1.0, 0.0)),
      (4L, Array(1.5, 0.0)), (5L, Array(2.4, 0.0)),
      (6L, Array(5.0, 5.0)), (7L, Array(5.5, 5.0)), (8L, Array(5.0, 5.5)),
      (9L, Array(10.0, 10.0)))
      .toDF("id", "v")
    val got = Similarity.dbscan2d(pts, "id", "v", eps = 1.0, minPts = 3)
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSeq
    assert(got == Seq(
      (1L, "core", 1L), (2L, "core", 1L), (3L, "core", 1L), (4L, "core", 1L),
      (5L, "border", 1L),
      (6L, "core", 6L), (7L, "core", 6L), (8L, "core", 6L),
      (9L, "noise", -1L)))
  }

  test("dbscan2d: dense eps-cell trips the maxCell guard") {
    val crowd = (1L to 10L).map(i => (i, Array(0.001 * i, 0.0))).toDF("id", "v")
    val e = intercept[Exception] {
      Similarity.dbscan2d(crowd, "id", "v", eps = 1.0, minPts = 3,
        maxCell = 4).collect()
    }
    assert(e.getMessage.contains("maxCell"))
  }

  test("dimTradeoffRecall: informative prefixes recover the full ranking") {
    // all signal lives in dims 1-2; dims 3-4 are CONSTANT, so the 2-dim
    // prefix must reproduce the full-4 top-k exactly (recall 1), while a
    // 1-dim prefix that collapses two clusters cannot.
    val corpus = Seq(
      (1L, Array(1.0, 0.0, 5.0, 5.0)), (2L, Array(0.9, 0.1, 5.0, 5.0)),
      (3L, Array(0.0, 1.0, 5.0, 5.0)), (4L, Array(0.1, 0.9, 5.0, 5.0)),
      (5L, Array(-1.0, 0.0, 5.0, 5.0)), (6L, Array(-0.9, -0.1, 5.0, 5.0)))
      .toDF("id", "v")
    val q = Seq(Tuple1(Array(1.0, 0.0, 5.0, 5.0))).toDF("qv")
    val got = Similarity.dimTradeoffRecall(corpus, "id", "v", q,
        k = 2, dims = Seq(1, 2, 4), fullDim = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got(4L) == 1.0)
    assert(got(2L) == 1.0)      // constant tail dims add no information
    assert(got(1L) <= 1.0 && got.size == 3)  // every prefix reports a row
  }

  test("PQ: codebooks split subspaces, codes compress, ADC+rerank finds the true NN") {
    // dim 4, m 2: subspace 0 separates clusters on coords 1-2, subspace 1
    // on coords 3-4. Corpus = two clear clusters + one exact copy of the
    // query vector planted in cluster A.
    val a = Seq(Array(1.0, 1.0, 0.0, 0.0), Array(1.1, 0.9, 0.0, 0.1),
      Array(0.9, 1.1, 0.1, 0.0), Array(1.0, 1.05, 0.05, 0.0))
    val b = Seq(Array(0.0, 0.0, 1.0, 1.0), Array(0.1, 0.0, 1.1, 0.9),
      Array(0.0, 0.1, 0.9, 1.1), Array(0.05, 0.0, 1.0, 1.05))
    val corpus = (a ++ b).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val cb = Similarity.pqCodebooks(corpus, "id", "v",
      m = 2, kPerSub = 2, iters = 3, dim = 4)
    // 2 subspaces × 2 centroids survive
    assert(cb.groupBy("j").count().orderBy("j")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((0, 2L), (1, 2L)))
    val codes = Similarity.pqEncode(corpus, "id", "v", cb, m = 2, dim = 4)
      .orderBy("id").collect().map(r => r.getSeq[Long](1).toSeq)
    // every code word has m entries; cluster-mates share code words and
    // the two clusters get DIFFERENT words in both subspaces
    assert(codes.forall(_.length == 2))
    assert(codes.take(4).distinct.length == 1)
    assert(codes.drop(4).distinct.length == 1)
    assert(codes.head(0) != codes(4)(0) && codes.head(1) != codes(4)(1))
    // query = cluster A's first vector: its exact copy (id 0) must come
    // back first with cosine 1
    val q = corpus.filter(col("id") === 0L).select(col("v").alias("qv"))
    val top = Similarity.pqTopK(corpus, "id", "v", q, k = 3,
        m = 2, kPerSub = 2, iters = 3, dim = 4, rerank = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.head._1 == 0L && math.abs(top.head._2 - 1.0) < 1e-9)
    // all reranked survivors are cluster-A members (ADC pruned cluster B)
    assert(top.forall(_._1 < 4L))
  }

  test("connected components: 65536-node path converges within 2·log2(n) rounds") {
    // worst-case diameter for n vertices; a plain label-propagation would
    // need 65535 rounds — finishing inside maxIter = 32 = 2·log2(65536)
    // is the pointer-jumping log-diameter evidence at 64× the 1024-path
    // spec's scale (the op throws loudly if the budget is exceeded)
    val n = 65536L
    val verts = spark.range(n).toDF("id")
    val edges = spark.range(n - 1)
      .select(col("id").alias("id1"), (col("id") + 1).alias("id2"))
    val t0 = System.nanoTime()
    val labels = ScaleDedup.connectedComponents(verts, edges,
      maxIter = 32)
    val roots = labels.select("label").distinct().as[Long].collect().toSeq
    assert(roots == Seq(0L))
    assert(labels.count() == n)
    info(f"65536-path clustering wall time ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  test("decontamination drops a 13-gram leak but keeps a 12-gram near-miss") {
    // 20-token eval doc; w1..w20
    val evalText = (1 to 20).map("w" + _).mkString(" ")
    val leak13 = "pre " + (1 to 13).map("w" + _).mkString(" ") + " post"
    // 12 shared consecutive tokens, then diverges — no 13-gram collision
    val miss12 = "pre " + (1 to 12).map("w" + _).mkString(" ") + " zz post filler"
    val clean = (1 to 20).map("c" + _).mkString(" ")
    val corpus = Seq((1L, leak13), (2L, miss12), (3L, clean))
      .toDF("doc_id", "text")
    val evalSet = Seq(Tuple1(evalText)).toDF("etext")
    val kept = ScaleDedup.decontaminate(corpus, "doc_id", "text",
        evalSet, "etext", n = 13)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 3L))
    // empty eval set keeps everything
    val keptAll = ScaleDedup.decontaminate(corpus, "doc_id", "text",
        evalSet.limit(0), "etext", n = 13)
      .count()
    assert(keptAll == 3L)
  }

  test("dedupLinesInDoc keeps first occurrences in order, idempotent") {
    val df = Seq(
      "a\nb\na\nc\nb\na",  // dups scattered
      "solo",              // no newline at all
      "x\nx\nx")           // all same
      .toDF("t")
    val got = df.select(TextAnalysis.dedupLinesInDoc(col("t")).alias("c"))
      .as[String].collect().toSeq
    assert(got == Seq("a\nb\nc", "solo", "x"))
    // idempotent: a clean doc passes through unchanged
    val twice = df.select(TextAnalysis.dedupLinesInDoc(
      TextAnalysis.dedupLinesInDoc(col("t"))).alias("c"))
      .as[String].collect().toSeq
    assert(twice == got)
  }

  test("bm25TopK ranks term-dense docs first and rewards rare terms") {
    val docs = Seq(
      (1L, "spark spark spark engine"),     // dense in 'spark'
      (2L, "spark engine engine engine"),   // one 'spark' hit
      (3L, "engine engine engine engine"),  // no 'spark'
      (4L, "rareword filler filler filler"),// only doc with 'rareword'
      (5L, "spark filler filler filler"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq(("q1", "spark"), ("q2", "rareword spark")), k = 5)
      .orderBy("query_id", "rank")
      .select("query_id", "doc_id").collect().map(r => (r.getString(0), r.getLong(1)))
    val q1 = got.filter(_._1 == "q1").map(_._2).toSeq
    // only docs containing 'spark' score; tf saturation still puts doc 1 first
    assert(q1.head == 1L && q1.toSet == Set(1L, 2L, 5L))
    val q2 = got.filter(_._1 == "q2").map(_._2).toSeq
    // 'rareword' (df=1) outweighs 'spark' (df=3): doc 4 wins for q2
    assert(q2.head == 4L)
  }

  test("rakeKeywords: punctuation+stopwords break phrases, deg/freq scores") {
    val docs = Seq(
      (1L, "Deep learning, the neural network of deep learning."),
      (2L, "scan."))
      .toDF("doc_id", "text")
    // phrases: "deep learning" x2, "neural network", "scan"
    // deep/learning: freq 2, deg 4 → 2.0 each; neural/network: 2.0;
    // scan: 1.0 → scores 4.0 / 4.0 / 1.0
    val got = TextAnalysis.rakeKeywords(docs, "text", topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq(
      ("deep learning", 2L, 4.0),
      ("neural network", 1L, 4.0),
      ("scan", 1L, 1.0)))
    // maxWords drops over-long runs entirely (no truncation artifacts)
    val longRun = Seq((1L, "alpha beta gamma delta, scan"))
      .toDF("doc_id", "text")
    val kept = TextAnalysis.rakeKeywords(longRun, "text", topK = 10,
      maxWords = 3).collect().map(_.getString(0))
    assert(kept.toSeq == Seq("scan"))
  }

  test("qlmTopK: tf wins, shorter docs win at equal tf, OOV terms drop") {
    val docs = Seq(
      (1L, "spark x x x"),       // tf=1, dl=4
      (2L, "spark spark x x"),   // tf=2, dl=4
      (3L, "spark y"))           // tf=1, dl=2
      .toDF("doc_id", "text")
    val got = TextAnalysis.qlmTopK(docs, "doc_id", "text",
        Seq(("q1", "spark"), ("q2", "spark zzz")), k = 5)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val q1 = got.filter(_._1 == "q1")
    // more tf beats less (2 > 1); equal tf, shorter doc's length prior
    // ln(μ/(dl+μ)) is less negative (3 > 1)
    assert(q1.map(_._2).toSeq == Seq(2L, 3L, 1L))
    // 'zzz' has no postings → dropped from n_q, so q2's scores are
    // IDENTICAL to q1's (both effectively one in-vocabulary term)
    val q2 = got.filter(_._1 == "q2")
    assert(q2.map(r => (r._2, r._3)).toSeq == q1.map(r => (r._2, r._3)).toSeq)
  }

  test("rankingEval: hand-computed NDCG/AP/RR, perfect run, barren query") {
    // run q1 returns a,b,c at ranks 1..3; relevance b=2, c=1, d=1
    // (d relevant but unreturned — must depress AP's recall base).
    val run = Seq(("q1", "a", 1L), ("q1", "b", 2L), ("q1", "c", 3L),
      ("q2", "a", 1L)).toDF("query_id", "doc_id", "rank")
    val rel = Seq(("q1", "b", 2L), ("q1", "c", 1L), ("q1", "d", 1L))
      .toDF("query_id", "doc_id", "rel")
    val rows = TextAnalysis.rankingEval(run, rel, k = 3)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val (dcg, idcg, ndcg, ap, rr) = rows("q1")
    val expDcg = 3.0 / log2(3.0) + 1.0 / log2(4.0)
    // ideal: b(2), then the c/d tie breaks on doc_id → c, d
    val expIdcg = 3.0 / log2(2.0) + 1.0 / log2(3.0) + 1.0 / log2(4.0)
    assert(math.abs(dcg - expDcg) < 1e-5)
    assert(math.abs(idcg - expIdcg) < 1e-5)
    assert(math.abs(ndcg - expDcg / expIdcg) < 1e-5)
    // hits at ranks 2, 3: (1/2 + 2/3) / min(R=3, k=3)
    assert(math.abs(ap - (0.5 + 2.0 / 3.0) / 3.0) < 1e-6)
    assert(math.abs(rr - 0.5) < 1e-9)
    // q2 has no relevant docs anywhere → all-zero row, not NULL
    assert(rows("q2") == ((0.0, 0.0, 0.0, 0.0, 0.0)))

    // a run in exactly the ideal order scores NDCG = 1
    val perfect = Seq(("q1", "b", 1L), ("q1", "c", 2L), ("q1", "d", 3L))
      .toDF("query_id", "doc_id", "rank")
    val p = TextAnalysis.rankingEval(perfect, rel, k = 3)
      .collect().head
    assert(math.abs(p.getDouble(3) - 1.0) < 1e-9)
    assert(math.abs(p.getDouble(4) - 1.0) < 1e-9) // every rank is a hit
    assert(math.abs(p.getDouble(5) - 1.0) < 1e-9)
  }

  test("gapFill: hourly grid forward-fills, drops pre-first points, breaks ts ties") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val df = Seq(
      (1L, 10L, ts("2024-01-01 00:10:00"), 1.0),
      (1L, 11L, ts("2024-01-01 02:30:00"), 2.0),
      // user 2: two observations at the SAME instant — higher id wins
      (2L, 20L, ts("2024-01-01 05:00:00"), 5.0),
      (2L, 21L, ts("2024-01-01 05:00:00"), 6.0))
      .toDF("user_id", "event_id", "ts", "value")
    val got = Sessionize.gapFill(df, "user_id", "ts", "value", "event_id")
      .orderBy("user_id", "bucket_ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getDouble(2)))
    assert(got.toSeq == Seq(
      // 00:00 grid point precedes the first observation → dropped
      (1L, "2024-01-01 01:00:00.0", 1.0),
      (1L, "2024-01-01 02:00:00.0", 1.0),
      // 05:00 grid point coincides with both observations; event rows sort
      // before grid rows, id 21 last → its value carries
      (2L, "2024-01-01 05:00:00.0", 6.0)))
  }

  test("clean-ingest chain collapses byte-distinct near-copies into one survivor") {
    // same logical doc three ways: pristine; trailing invisibles + double
    // spaces; duplicated boilerplate line. Cleaning must converge all
    // three to ONE fingerprint; the distinct doc must survive separately.
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox \u200B  "),
      (3L, "the quick brown fox\nthe quick brown fox"),
      (4L, "a genuinely different document"))
      .toDF("doc_id", "text")
    val cleaned = docs.select(col("doc_id"),
      TextAnalysis.dedupLinesInDoc(
        TextAnalysis.normalizeText(col("text"))).alias("clean"))
    val fps = cleaned.select(md5(col("clean")).alias("fp"))
      .distinct().count()
    assert(fps == 2L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("clean"))).orderBy("doc_id")
    val kept = cleaned.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L))
  }

  test("typo mining: length banding catches every edit-distance-1 pair kind") {
    // substitution (same length), deletion (len-1), insertion (len+1)
    // must all meet in a shared bucket; transposition (distance 2) must not
    val docs = Seq((1L, "table tabke tale tables tabel")).toDF("doc_id", "text")
    val vocab = docs.select(explode(split(col("text"), " ")).alias("token"))
      .groupBy("token").agg(count(lit(1)).alias("n"))
    val k = vocab.select(col("token"), col("n"),
      explode(array(length(col("token")), length(col("token")) + 1)).alias("b"))
    val a = k.select(col("b"), col("token").alias("t1"))
    val b = k.select(col("b"), col("token").alias("t2"))
    val pairs = a.join(b, Seq("b")).filter(col("t1") < col("t2"))
      .filter(levenshtein(col("t1"), col("t2")) === 1)
      .select("t1", "t2").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(pairs.contains(("tabke", "table")))   // substitution
    assert(pairs.contains(("table", "tables")))  // insertion
    assert(pairs.contains(("table", "tale")) || pairs.contains(("tale", "table")))
    assert(!pairs.exists(p => p._1 == "tabel" && p._2 == "table") &&
      !pairs.exists(p => p._1 == "table" && p._2 == "tabel")) // transposition = 2
  }

  test("bigramLogProb favors repeated transitions over token salad") {
    val df = Seq(
      (1L, "a b a b a b a b"),   // one dominant transition each way
      (2L, "a b c d e f g h"),   // every transition unique
      (3L, "x"))                 // single token → no bigrams → dropped
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLogProb(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(got(0).getDouble(1) > got(1).getDouble(1))
  }

  test("weightedSample: odds follow weights, selection reproducible") {
    val df = (1L to 1000L).map(i => (i, if (i <= 100) 1000.0 else 1.0))
      .toDF("doc_id", "w")
    val pick = Mix.weightedSample(df, "doc_id", "w", 50)
      .select("doc_id").as[Long].collect().toSet
    // heavy ids are 10% of rows but 99%+ of mass → dominate the sample
    assert(pick.count(_ <= 100L) >= 40)
    // deterministic: the same call selects the same set
    val again = Mix.weightedSample(df, "doc_id", "w", 50)
      .select("doc_id").as[Long].collect().toSet
    assert(again == pick)
    // uniform weights → plain deterministic k-subset, all rows eligible
    val uni = Mix.weightedSample(df.withColumn("w", lit(1.0)), "doc_id", "w", 10)
    assert(uni.count() == 10L)
  }

  test("normalizeText: NFC composes, invisibles stripped, whitespace collapsed, idempotent") {
    val rows = Seq(
      "cafe\u0301",                  // decomposed accent -> composed e-acute
      "caf\u00e9",                   // already composed -> unchanged
      "a\u200Bb\u200Cc\u200Dd\uFEFFe",  // zero-width family stripped
      "x\u0001y\u0007z",            // control chars stripped
      "keep\nnewline\tand tab",     // \n and \t survive stripping...
      "  lots   of \t spaces  ")    // ...but space/tab runs collapse
    val df = rows.toDF("t")
    val got = df.select(TextAnalysis.normalizeText(col("t")).alias("n"))
      .as[String].collect().toSeq
    assert(got(0) == "caf\u00e9" && got(1) == "caf\u00e9")
    assert(got(2) == "abcde")
    assert(got(3) == "xyz")
    assert(got(4) == "keep\nnewline and tab")
    assert(got(5) == "lots of spaces")
    val twice = df.select(TextAnalysis.normalizeText(
      TextAnalysis.normalizeText(col("t"))).alias("n")).as[String].collect().toSeq
    assert(twice == got)
  }

  test("pagerank: uniform on a ring, concentrates on a star hub") {
    // 3-ring: every node keeps rank 1/3 at every iteration
    val ring = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "w")
    val r = Graph.pagerank(ring, iters = 5)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.values.toSet.size == 1)
    assert(math.abs(r("a") - 1.0 / 3) < 1e-6)
    // star: spokes point at hub c, hub redistributes — hub outranks spokes
    val star = Seq(("a", "c", 1L), ("b", "c", 1L), ("d", "c", 1L),
      ("c", "a", 1L), ("c", "b", 1L), ("c", "d", 1L))
      .toDF("src", "dst", "w")
    val s = Graph.pagerank(star, iters = 10)
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(s("c") > s("a") && s("a") == s("b") && s("b") == s("d"))
    // no dangling nodes → mass conserved (up to 9-dp round noise)
    assert(math.abs(s.values.sum - 1.0) < 1e-6)
  }

  test("hits: directed star splits hub mass onto spokes, authority onto hub") {
    // spokes a,b,d each point at c: c is the only authority (1.0 after
    // L1), the spokes split hub mass evenly; c never hubs, spokes never
    // authority
    val star = Seq(("a", "c", 1L), ("b", "c", 1L), ("d", "c", 1L))
      .toDF("src", "dst", "w")
    val got = Graph.hits(star, iters = 3)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(math.abs(got("c")._2 - 1.0) < 1e-6)
    assert(got("c")._1 == 0.0)
    Seq("a", "b", "d").foreach { n =>
      assert(math.abs(got(n)._1 - 1.0 / 3) < 1e-6, s"hub($n)=${got(n)._1}")
      assert(got(n)._2 == 0.0)
    }
    // weighted: heavier edge wins more hub mass
    val w = Seq(("a", "c", 3L), ("b", "c", 1L)).toDF("src", "dst", "w")
    val wg = Graph.hits(w, iters = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(wg("a") > wg("b"))
  }

  test("textrankKeywords ranks the co-occurrence hub token first") {
    val docs = Seq("x y x y x y", "z y", "w w w").toDF("text")
    val got = TextAnalysis.textrankKeywords(docs, "text", iters = 3,
      topN = 10).collect()
    // y touches x and z; w only repeats itself (self-loops dropped) so it
    // never enters the graph
    assert(got.head.getString(0) == "y")
    val toks = got.map(_.getString(0)).toSet
    assert(toks == Set("x", "y", "z"))
    // rank mass conserved across the vocabulary graph
    assert(math.abs(got.map(_.getDouble(1)).sum - 1.0) < 1e-5)
  }

  test("embeddingProfile: aligned group vs cancelling group") {
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f), 1), (2L, Seq(1.0f, 0.0f), 1),
      (3L, Seq(0.0f, 2.0f), 2), (4L, Seq(0.0f, -2.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingProfile(rows, "embedding", "label")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // group 1: identical unit vectors — centroid is the vector itself
    assert(got(1) == ((2L, 1.0, 1.0, 1.0)))
    // group 2: perfect cancellation — zero centroid, guarded cosine 0
    assert(got(2) == ((2L, 2.0, 0.0, 0.0)))
  }

  test("semDedup collapses planted near-identical embeddings, keeps distinct ones") {
    // cell A around e1: ids 1,2 identical, 3 scaled copy (cos=1); cell B
    // around e2: ids 10, 11 orthogonal-ish within the cell
    val rows = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(2.0f, 0.0f, 0.0f, 0.0f)),
      (10L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (11L, Array(0.0f, 0.9f, 0.0f, 0.9f)))
    val df = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).alias("v"))
    val cents = df.orderBy("vec_id").limit(1).select(col("vec_id").alias("cid"), col("v").alias("cv"))
      .union(df.filter(col("vec_id") === 10L).select(col("vec_id").alias("cid"), col("v").alias("cv")))
    val kept = Similarity.semDedup(df, "vec_id", "v", cents, tau = 0.95)
      .select("vec_id").as[Long].collect().sorted.toSeq
    // 2 and 3 are cos-1 duplicates of 1 → dropped; 11 vs 10: cos ≈ 0.707 < 0.95 → kept
    assert(kept == Seq(1L, 10L, 11L))
    // maxCell guard fails loudly on an oversized cell
    val boom = intercept[Exception] {
      Similarity.semDedup(df, "vec_id", "v", cents, tau = 0.95, maxCell = 2).count()
    }
    assert(boom.getMessage != null)
  }

  test("naiveBayesScore separates planted class vocabularies") {
    val docs = Seq(
      (1L, "good great fine good", true),
      (2L, "great good good fine", true),
      (3L, "bad awful poor bad", false),
      (4L, "awful bad poor poor", false),
      // held-out-ish mixtures: majority vocabulary should win
      (5L, "good great bad", true),
      (6L, "bad awful good", false))
      .toDF("doc_id", "text", "y")
    val got = TextAnalysis.naiveBayesScore(docs, "doc_id", "text", col("y"))
      .orderBy("doc_id").collect()
    assert(got.length == 6)
    val preds = got.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(preds(1L) && preds(2L) && !preds(3L) && !preds(4L))
    assert(preds(5L) && !preds(6L))
    // scores are finite and signed consistently with pred
    got.foreach { r =>
      assert(!r.getDouble(1).isNaN && (r.getDouble(1) > 0) == r.getBoolean(2)) }
  }

  test("span dedup cuts a pasted paragraph, keeps its first occurrence") {
    // doc 1 owns the paragraph; docs 2 and 3 paste it into otherwise
    // distinct text. Span dedup (k=4) must leave doc 1 untouched, cut
    // exactly the pasted span from docs 2 and 3, and keep their own prose.
    val para = (1 to 10).map(i => s"boiler$i").mkString(" ")
    val docs = Seq(
      (1L, para),
      (2L, s"alpha beta gamma delta $para"),
      (3L, s"$para epsilon zeta eta theta"),
      (4L, "unrelated text with no repeats at all"))
      .toDF("doc_id", "text")
    val got = ScaleDedup.removeRepeatedSpans(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id")
      .select("text_clean", "n_removed").collect()
    assert(got(0).getString(0) == para && got(0).getLong(1) == 0L)
    assert(got(1).getString(0) == "alpha beta gamma delta" && got(1).getLong(1) == 10L)
    assert(got(2).getString(0) == "epsilon zeta eta theta" && got(2).getLong(1) == 10L)
    assert(got(3).getLong(1) == 0L)
    // a verbatim copy of doc 1 loses every token (full span coverage)
    val copies = Seq((1L, para), (2L, para)).toDF("doc_id", "text")
    val c = ScaleDedup.removeRepeatedSpans(copies, "doc_id", "text", k = 4)
      .orderBy("doc_id").select("text_clean", "n_removed").collect()
    assert(c(0).getString(0) == para && c(1).getString(0) == "" &&
      c(1).getLong(1) == 10L)
  }

  test("shard manifest: contiguous positions, assignments stable under growth") {
    val docs = (1L to 64L).toDF("doc_id")
    val m = Pack.shardManifest(docs, "doc_id", numShards = 4).collect()
    assert(m.map(_.getLong(0)).toSet == (1L to 64L).toSet)
    // every shard's positions are exactly 1..n_shard
    m.groupBy(_.getLong(1)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // a row's shard depends only on its own key: growing the corpus
    // never reshuffles existing rows across shards
    val bigger = Pack.shardManifest((1L to 128L).toDF("doc_id"), "doc_id", 4)
      .filter(col("doc_id") <= 64).collect()
    val shardOf = m.map(r => r.getLong(0) -> r.getLong(1)).toMap
    bigger.foreach(r => assert(shardOf(r.getLong(0)) == r.getLong(1)))
  }

  test("doc novelty: copies score 0, fresh text scores 1, short docs NULL") {
    val para = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, para),                                        // first owner: all novel
      (2L, para),                                        // verbatim copy: nothing novel
      (3L, (1 to 10).map(i => s"x$i").mkString(" ")),    // fresh: all novel
      (4L, "too short"))                                 // < k tokens: no grams
      .toDF("doc_id", "text")
    val got = ScaleDedup.docNovelty(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
    assert(got(0).getDouble(3) == 1.0 && got(1).getDouble(3) == 0.0)
    assert(got(2).getDouble(3) == 1.0)
    assert(got(3).getLong(1) == 0L && got(3).isNullAt(3))
  }

  test("MAD outlier gate keeps a tight cluster, drops a far outlier") {
    val df = (Seq.tabulate(20)(i => 10.0 + (i % 5) * 0.1) :+ 1e6)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val kept = Aggregates.madOutlierKeep(df, "v").select("id").as[Long].collect()
    assert(kept.length == 20 && !kept.contains(20L))
    // constant data: MAD = 0 → only exact-median rows survive (all of them)
    val const = Seq((1L, 5.0), (2L, 5.0), (3L, 5.0)).toDF("id", "v")
    assert(Aggregates.madOutlierKeep(const, "v").count() == 3)
  }

  test("snapshot diff labels added/removed/changed/same") {
    val oldV = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val newV = Seq((2L, "b"), (3L, "c2"), (4L, "d")).toDF("id", "text")
    val got = Inspect.snapshotDiff(oldV, newV, "id", "text")
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "removed"), (2L, "same"), (3L, "changed"), (4L, "added")))
  }

  test("debounce judges each event against its raw predecessor") {
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000L)
    // u1: 0s, 30s, 120s, 150s → keep 0s (first), drop 30s, keep 120s
    // (90s after raw predecessor 30s), drop 150s
    val ev = Seq((1L, 1L, ts(0)), (2L, 1L, ts(30)), (3L, 1L, ts(120)),
      (4L, 1L, ts(150)), (5L, 2L, ts(10)))
      .toDF("event_id", "user_id", "ts")
    val kept = Sessionize.debounce(ev, "user_id", "ts", "event_id", 60000L)
      .select("event_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L))
  }

  test("containment flags a quote that jaccard dilutes") {
    val short = (1 to 10).map(i => s"q$i")
    val long = short ++ (1 to 90).map(i => s"pad$i")
    val a = array(short.map(lit): _*)
    val b = array(long.map(lit): _*)
    val row = spark.range(1).select(
      ScaleDedup.containment(a, b).alias("cont"),
      ScaleDedup.jaccard(a, b).alias("jac")).head()
    assert(row.getDouble(0) == 1.0 && row.getDouble(1) == 0.1)
  }

  test("triangle counts and degree histogram normalize direction and dups") {
    // triangle 1-2-3 plus pendant 3-4; one reversed duplicate edge (2,1)
    // and a self-loop that must both normalize away
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (2L, 1L), (5L, 5L))
      .toDF("src", "dst")
    val tri = Graph.triangleCounts(edges).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    assert(tri == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    val deg = Graph.degreeHistogram(edges).orderBy("degree")
      .as[(Long, Long)].collect().toSeq
    assert(deg == Seq((1L, 1L), (2L, 2L), (3L, 1L)))
  }

  test("shortestPaths: weighted route beats fewer-hop route; bound tightens") {
    // s→a→b costs 1+1=2; direct s→b costs 10; b→c costs 1
    val edges = Seq(("s", "a", 1L), ("a", "b", 1L), ("s", "b", 10L),
      ("b", "c", 1L)).toDF("src", "dst", "w")
    val src = Seq("s").toDF("node")
    val d2 = Graph.shortestPaths(edges, src, rounds = 2)
      .as[(String, Long)].collect().toMap
    // after 2 rounds the ≤2-edge optimum is exact: b settles at 2, c has
    // only the 11-cost bound via the direct edge so far
    assert(d2 == Map("s" -> 0L, "a" -> 1L, "b" -> 2L, "c" -> 11L))
    val d3 = Graph.shortestPaths(edges, src, rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(d3("c") == 3L) // third round relaxes c through the cheap route
  }

  test("resampleOhlc: struct-min open/close, tie-break, null drop") {
    import java.sql.Timestamp
    def t(ms: Long) = new Timestamp(ms)
    val df = Seq(
      ("k", t(1000L), 1L, Some(5.0)),  // bucket 0: open (earliest)
      ("k", t(2000L), 2L, Some(9.0)),  // high
      ("k", t(2500L), 3L, None),       // null: dropped
      ("k", t(3000L), 4L, Some(1.0)),  // low; same ts as tie 5
      ("k", t(3000L), 5L, Some(4.0)),  // close: same ts, higher tie wins
      ("k", t(60001L), 6L, Some(7.0))  // bucket 60000: singleton bar
    ).toDF("key", "ts", "tie", "value")
    val got = Sessionize.resampleOhlc(df, "key", "ts", "tie", "value",
        bucketMs = 60000L).orderBy("bucket_ms")
      .select("bucket_ms", "open", "high", "low", "close", "n_events", "volume")
      .as[(Long, Double, Double, Double, Double, Long, Double)]
      .collect().toSeq
    assert(got == Seq(
      (0L, 5.0, 9.0, 1.0, 4.0, 4L, 19.0),
      (60000L, 7.0, 7.0, 7.0, 7.0, 1L, 7.0)))
  }

  test("cusumChangepoints: prefix-identity equals the textbook recursion") {
    import java.sql.Timestamp
    // key "k": flat baseline then a +10 step (drift accumulates late);
    // key "r": drift POSITIVE from the very first row — catches an
    // identity that forgets the empty prefix (c_0 = 0) in the min
    val series = Map(
      "k" -> Seq(5.0, 5.0, 5.0, 5.0, 5.0, 15.0, 15.0, 15.0, 15.0, 15.0),
      "r" -> Seq(30.0, 30.0, 30.0, 0.0, 0.0, 0.0))
    val df = series.toSeq.flatMap { case (key, vals) =>
      vals.zipWithIndex.map { case (v, i) =>
        (key, new Timestamp(1000L * i), i.toLong, v)
      }
    }.toDF("key", "ts", "tie", "value")
    val got = Sessionize.cusumChangepoints(df, "key", "ts", "tie", "value",
        kappa = 0.5, h = 1.0)
      .select("key", "tie", "cusum").as[(String, Long, Double)]
      .collect().map { case (k, t, c) => (k, t) -> c }.toMap
    // replicate: mu/sd from exact moments rounded to 6dp, then the
    // max(0, c + (x - mu - 0.5 sd)) recursion with a h·sd threshold
    val expect = series.flatMap { case (key, vals) =>
      val n = vals.length
      val mu = BigDecimal(vals.sum / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val sd = BigDecimal(
          math.sqrt(vals.map(v => v * v).sum / n - math.pow(vals.sum / n, 2)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      var c = 0.0
      vals.zipWithIndex.flatMap { case (v, i) =>
        c = math.max(0.0, c + (v - mu - 0.5 * sd))
        if (c > 1.0 * sd) Some((key, i.toLong) -> c) else None
      }
    }
    assert(got.keySet == expect.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - expect(k)) < 1e-6, s"$k") }
  }

  test("explodeHierarchy: multi-path DAG sums path products; depth truncates") {
    // diamond: a→b (×2), a→c (×3), b→d (×4), c→d (×5) ⇒ d under a needs
    // 2·4 + 3·5 = 23; plus a leaf e under d (×10)
    val edges = Seq(("a", "b", 2L), ("a", "c", 3L), ("b", "d", 4L),
      ("c", "d", 5L), ("d", "e", 10L)).toDF("parent", "child", "qty")
    val roots = Seq("a", "b").toDF("node")
    val full = Graph.explodeHierarchy(edges, roots, maxDepth = 8)
      .as[(String, String, Long)].collect()
      .map { case (r, n, q) => (r, n) -> q }.toMap
    assert(full == Map(
      ("a", "a") -> 1L, ("a", "b") -> 2L, ("a", "c") -> 3L,
      ("a", "d") -> 23L, ("a", "e") -> 230L,
      ("b", "b") -> 1L, ("b", "d") -> 4L, ("b", "e") -> 40L))
    // depth 1 keeps only direct children
    val shallow = Graph.explodeHierarchy(edges, roots, maxDepth = 1)
      .as[(String, String, Long)].collect()
      .map { case (r, n, q) => (r, n) -> q }.toMap
    assert(shallow == Map(
      ("a", "a") -> 1L, ("a", "b") -> 2L, ("a", "c") -> 3L,
      ("b", "b") -> 1L, ("b", "d") -> 4L))
  }

  test("phraseSearch: overlap, repeated tokens, and index-side pushdown") {
    val docs = Seq(
      (1L, "x x x y"),        // "x x" overlaps: starts 0 and 1
      (2L, "a b a b a"),      // "a b a" overlaps: starts 0 and 2
      (3L, "b a x"),          // no phrase
      (4L, "x x")             // one "x x"
    ).toDF("doc_id", "text")
    val post = InvertedIndex.buildPostings(docs, "doc_id", "text")
    def search(ph: String*) =
      InvertedIndex.phraseSearch(post, ph).orderBy("doc_id")
        .as[(Long, Long)].collect().toSeq
    assert(search("x", "x") == Seq((1L, 2L), (4L, 1L)))
    assert(search("a", "b", "a") == Seq((2L, 2L)))
    assert(search("y", "x") == Seq.empty)
    // single-token search equals tf
    assert(search("a") == Seq((2L, 3L), (3L, 1L)))
    // persisted index: the phrase's IN-filter reaches the parquet scan
    // (AQE-finalized plan; assert on the scan's PushedFilters line)
    val dir = java.nio.file.Files.createTempDirectory("graft_inv").toString
    post.write.mode("overwrite").parquet(dir)
    val indexed = spark.read.parquet(dir)
    val q = InvertedIndex.phraseSearch(indexed, Seq("x", "x"))
    q.write.format("noop").mode("overwrite").save()
    val planStr = q.queryExecution.executedPlan.toString
    val pushedLine = planStr.linesIterator
      .find(_.contains("PushedFilters: [")).getOrElse("")
    assert(pushedLine.contains("token"), s"no token pushdown in: $planStr")
  }

  test("pcaPowerIteration: recovers a planted dominant direction") {
    // x = t·u + small orthogonal wiggle, u = normalize([1,2,3,4])
    val u = {
      val raw = Array(1.0, 2.0, 3.0, 4.0)
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val ortho = {
      // orthogonal to u: [2,-1,0,0]/√5
      val raw = Array(2.0, -1.0, 0.0, 0.0)
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val rows = (0 until 200).map { k =>
      val t = (k % 21) - 10.0            // spread along u
      val eps = ((k % 7) - 3.0) * 0.05   // tiny orthogonal noise
      Tuple1(u.indices.map(i => (t * u(i) + eps * ortho(i)).toFloat).toArray)
    }
    val df = rows.toDF("embedding")
    val v = Similarity.pcaPowerIteration(df, "embedding", dim = 4, iters = 12)
      .orderBy("dim_idx").as[(Int, Double)].collect().map(_._2)
    val align = math.abs(v.zip(u).map { case (a, b) => a * b }.sum)
    assert(align > 0.999, s"principal direction off: ${v.toSeq} vs ${u.toSeq}")
    // unit length (up to the 6-dp output rounding)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-4)
  }

  test("fractionalRanks: average-of-positions ties, partition-count invariant") {
    val df = Seq(10.0, 20.0, 20.0, 30.0, 30.0, 30.0, 40.0).toDF("v")
    // positions: 10→1; 20,20→(2+3)/2=2.5; 30×3→(4+5+6)/2=5; 40→7
    val expect = Map(10.0 -> 1.0, 20.0 -> 2.5, 30.0 -> 5.0, 40.0 -> 7.0)
    Seq(1, 3, 32).foreach { parts =>
      val got = Aggregates.fractionalRanks(df, "v", numParts = parts)
        .collect().map(r => r.getDouble(0) -> r.getDouble(2)).toMap
      assert(got == expect, s"numParts=$parts: $got")
    }
  }

  test("spearmanCorr: 1 on a monotone transform, -1 on a reversal") {
    val xs = (1 to 50).map(_.toDouble)
    val mono = xs.map(x => (x, x * x * 3 + 7)).toDF("a", "b") // nonlinear, monotone
    assert(Aggregates.spearmanCorr(mono, "a", "b").head().getDouble(0) == 1.0)
    val anti = xs.map(x => (x, -x * x * x)).toDF("a", "b")
    assert(Aggregates.spearmanCorr(anti, "a", "b").head().getDouble(0) == -1.0)
  }

  test("mgMergeTables: exact when distinct fits in k, bounded undercount above") {
    val a = Seq(("x", 5L), ("y", 2L)).toDF("item", "cnt")
    val b = Seq(("x", 3L), ("z", 1L)).toDF("item", "cnt")
    // 3 distinct ≤ k=4: no decrement, the merge is the exact sum
    val exact = Aggregates.mgMergeTables(a, b, 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact == Map("x" -> 8L, "y" -> 2L, "z" -> 1L))
    // k=2 forces a decrement by the 3rd-largest (1): z drops, others shrink
    val squeezed = Aggregates.mgMergeTables(a, b, 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(squeezed == Map("x" -> 7L, "y" -> 1L), s"got $squeezed")
  }

  test("degree-oriented triangles == id-oriented on a hub-skewed graph") {
    // hub 0 connects to everyone; spokes 1..8 form a cycle among
    // themselves — many triangles through the hub, plus the hub's own
    // wedge fan-out is exactly the case degree orientation bounds.
    val spokes = (1L to 8L)
    val hubEdges = spokes.map(i => (0L, i))
    val ring = spokes.map(i => (i, if (i == 8L) 1L else i + 1))
    val edges = (hubEdges ++ ring ++ Seq((3L, 2L), (7L, 7L))) // dup + loop
      .toDF("src", "dst")
    val a = Graph.triangleCounts(edges).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    val b = Graph.triangleCountsDegreeOriented(edges).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    assert(a == b, s"id-oriented $a != degree-oriented $b")
    // hub sits on one triangle per ring edge: (0, i, i+1) ×8
    assert(a.head == (0L, 8L))
  }

  test("zscore by group normalizes per group, NULL on zero variance") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 7.0), ("b", 7.0))
      .toDF("g", "v")
    val got = Aggregates.zscoreByGroup(df, "g", "v")
      .orderBy("g", "v").collect()
    // group a: mean 2, population sd sqrt(2/3) → z(1) ≈ -1.224745
    assert(got(0).getDouble(2) == -1.224745 && got(1).getDouble(2) == 0.0 &&
      got(2).getDouble(2) == 1.224745)
    assert(got(3).isNullAt(2) && got(4).isNullAt(2))
  }

  test("winsorize clamps both tails, keeps every row") {
    val df = (Seq(-1000.0) ++ (1 to 98).map(_.toDouble) :+ 1000.0)
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val got = Aggregates.winsorize(df, "v", pLo = 0.01, pHi = 0.99)
    assert(got.count() == 100)
    val w = got.orderBy("v").select("v_w").as[Double].collect()
    assert(w.min == w(0) && w.head > -1000.0 && w.last < 1000.0)
    // interior values untouched
    val mid = got.filter(col("v") === 50.0).select("v_w").as[Double].head()
    assert(mid == 50.0)
  }

  test("knnPredict plans map-side WindowGroupLimit and a broadcast probe side") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val helper = new AdaptiveSparkPlanHelper {}
    val emb = Tables.embeddings(spark, sf0)
    val probes = emb.orderBy("vec_id").limit(3)
      .select(col("vec_id").alias("qid"), col("label").alias("qlabel"),
        graft.ops.Similarity.asDouble(col("embedding")).alias("qv"))
    val out = graft.ops.Similarity.knnPredict(
      emb, "vec_id", "embedding", "label", probes, k = 3)
    out.write.format("noop").mode("overwrite").save()
    val plan = out.queryExecution.executedPlan
    val wgl = helper.collectWithSubqueries(plan) {
      case w: WindowGroupLimitExec => w }
    val bcast = helper.collectWithSubqueries(plan) {
      case b: BroadcastExchangeExec => b }
    assert(wgl.nonEmpty, s"expected WindowGroupLimit (map-side top-k), got:\n$plan")
    assert(bcast.nonEmpty, s"expected broadcast probe side, got:\n$plan")
    // each probe predicts some label with 1..k votes
    val rows = out.collect()
    assert(rows.length == 3 && rows.forall(r =>
      r.getLong(3) >= 1 && r.getLong(3) <= 3))
  }

  test("centroid artifact round-trips and reproduces assignments") {
    val emb = Tables.embeddings(spark, sf0)
    val base = emb.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).alias("v"))
    val cents = Similarity.kmeansCentroids(base, "vec_id", "v",
      nCells = 4, iters = 2, dim = 64)
    val dir = java.nio.file.Files.createTempDirectory("graft-cents").toString
    try {
      Similarity.saveCentroids(cents, dir)
      val loaded = Similarity.loadCentroids(spark, dir)
      val before = Similarity.ivfAssign(base, "vec_id", "v", cents)
        .select("vec_id", "cell").as[(Long, Long)].collect().toMap
      val after = Similarity.ivfAssign(base, "vec_id", "v", loaded)
        .select("vec_id", "cell").as[(Long, Long)].collect().toMap
      assert(before == after)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("linearFit recovers an exact line and guards degenerate groups") {
    val df = Seq(
      // g1: y = 2x + 1 exactly → slope 2, intercept 1, r² 1
      ("g1", 1.0, 3.0), ("g1", 2.0, 5.0), ("g1", 3.0, 7.0), ("g1", 4.0, 9.0),
      // g2: constant x → zero x-variance → slope/intercept/r² NULL
      ("g2", 5.0, 1.0), ("g2", 5.0, 2.0))
      .toDF("g", "x", "y")
    val got = Aggregates.linearFit(df, "g", "x", "y").orderBy("g").collect()
    val g1 = got(0)
    assert(g1.getLong(1) == 4L)
    assert(g1.getDouble(2) == 2.0 && g1.getDouble(3) == 1.0 && g1.getDouble(4) == 1.0)
    val g2 = got(1)
    assert(g2.isNullAt(2) && g2.isNullAt(3) && g2.isNullAt(4))
  }

  test("topKPerGroup returns exactly k per group and plans WindowGroupLimit") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val q = Inspect.topKPerGroup(
      Tables.lineitem(spark, sf0)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
      Seq("l_returnflag"), 3,
      Seq(desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber")))
    q.write.format("noop").mode("overwrite").save()
    val helper = new AdaptiveSparkPlanHelper {}
    val limits = helper.collectWithSubqueries(q.queryExecution.executedPlan) {
      case w: WindowGroupLimitExec => w
    }
    assert(limits.nonEmpty, s"expected WindowGroupLimit in:\n${q.queryExecution.executedPlan}")
    val counts = q.groupBy("l_returnflag").count().collect().map(_.getLong(1))
    assert(counts.forall(_ === 3L))
  }

  test("tableProfile reports nulls, distincts, and numeric ranges") {
    import spark.implicits._
    val df = Seq((Some(1L), Some("a")), (Some(2L), None), (None, Some("a")))
      .toDF("num", "str")
    val got = Inspect.tableProfile(df, Seq("num", "str")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSeq
    assert(got === Seq(
      ("num", 3L, 1L, 2L, Some(1.0), Some(2.0)),
      ("str", 3L, 1L, 1L, None, None)))
  }

  test("chiSquare is zero for perfectly independent margins") {
    import spark.implicits._
    // 2x2 with identical distribution across groups → chi2 == 0, dof 1
    val df = Seq(("g1", "x"), ("g1", "y"), ("g2", "x"), ("g2", "y"))
      .toDF("a", "b")
    val got = Aggregates.chiSquare(df, "a", "b").collect().head
    assert(got.getDouble(0) === 0.0)
    assert(got.getLong(1) === 1L)
  }

  test("exactHeavyHitters equals the full GROUP BY HAVING, across partitionings") {
    import spark.implicits._
    // Zipf-ish stream: item i appears 600/i times, i = 1..40, plus a tail
    // of 400 singletons. n = 600*H(40) + 400; threshold n/20.
    val stream = (1 to 40).flatMap(i => Seq.fill(600 / i)(s"item$i")) ++
      (1 to 400).map(i => s"tail$i")
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = stream.size.toLong
    val expected = exact.filter { case (_, c) => c * 20 > n }.toSeq
      .sortBy { case (item, c) => (-c, item) }
    for (parts <- Seq(1, 4, 13)) {
      val df = spark.sparkContext.parallelize(stream, parts).toDF("item")
      val got = Aggregates.exactHeavyHitters(df, "item", k = 20, sketchK = 80)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got === expected, s"partitions=$parts")
    }
  }

  test("skyline2D matches brute-force dominance, keeps duplicate points, any buckets") {
    import spark.implicits._
    val pts = Seq((1L, 0L, 1), (2L, 1L, 5), (3L, 1L, 5), (4L, 2L, 7),
      (5L, 2L, 6), (6L, 3L, 7), (7L, 10L, 2))
    // brute force: p dominated iff some q is <= on cost, >= on size, one strict
    val expected = pts.filterNot { case (_, c, v) =>
      pts.exists { case (_, c2, v2) =>
        c2 <= c && v2 >= v && (c2 < c || v2 > v) }
    }.map(_._1).sorted
    for (buckets <- Seq(1, 4, 16)) {
      val df = spark.sparkContext.parallelize(pts, 3).toDF("id", "cost", "size")
      val got = Inspect.skyline2D(df, col("cost"), col("size"), buckets)
        .select("id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === expected, s"buckets=$buckets")
    }
  }

  test("bfsDistances: exact hop tiers, unreached nodes absent") {
    import spark.implicits._
    // path 1-2-3-4-5 and a disconnected island 9-10, both orientations
    val e = Seq((1, 2), (2, 3), (3, 4), (4, 5), (9, 10))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val src = Seq(1).toDF("node")
    val got = Graph.bfsDistances(e, src, 3).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(got === Map(1 -> 0L, 2 -> 1L, 3 -> 2L, 4 -> 3L))
  }

  test("ewmaTrailing weights newest-first and normalizes over present rows") {
    import spark.implicits._
    val df = Seq((1L, "2024-01-01 00:00:00", 10.0, 1L),
      (1L, "2024-01-01 00:01:00", 20.0, 2L),
      (1L, "2024-01-01 00:02:00", 30.0, 3L))
      .toDF("k", "ts", "v", "id")
      .withColumn("ts", to_timestamp(col("ts")))
    val got = Sessionize.ewmaTrailing(df, "k", "ts", "v", "id", decay = 0.5, lookback = 4)
      .orderBy("id").collect().map(_.getAs[Double]("ewma")).toSeq
    // row1: 10; row2: (20 + 0.5*10)/1.5; row3: (30 + 0.5*20 + 0.25*10)/1.75
    assert(got === Seq(10.0,
      math.rint((20.0 + 0.5 * 10.0) / 1.5 * 1e6) / 1e6,
      math.rint((30.0 + 0.5 * 20.0 + 0.25 * 10.0) / 1.75 * 1e6) / 1e6))
  }

  test("bollinger: flat series pins sd=0 and NULL %B; a jump re-opens the band") {
    import spark.implicits._
    val df = (1L to 5L).map(i => (1L, f"2024-01-01 00:0${i}:00", 10.0, i))
      .toDF("k", "ts", "v", "id")
      .withColumn("ts", to_timestamp(col("ts")))
    val got = Sessionize.bollinger(df, "k", "ts", "v", "id", n = 3, k = 2.0)
      .orderBy("id").collect()
    // constant window: sma=10, sd=0, bands collapse onto the mean, %B NULL
    got.foreach { r =>
      assert(r.getAs[Double]("sma") == 10.0 && r.getAs[Double]("sd") == 0.0)
      assert(r.getAs[Double]("upper") == 10.0 && r.isNullAt(r.fieldIndex("pctb")))
    }
    val jump = (df.as[(Long, java.sql.Timestamp, Double, Long)].collect().toSeq :+
      ((1L, java.sql.Timestamp.valueOf("2024-01-01 00:06:00"), 16.0, 6L)))
      .toDF("k", "ts", "v", "id")
    val last = Sessionize.bollinger(jump, "k", "ts", "v", "id", n = 3, k = 2.0)
      .orderBy("id").collect().last
    // window {10,10,16}: mean=12, sigma=sqrt(8); the jump row sits at the
    // upper band → %B = (16-lower)/(4sigma)
    val sd = math.sqrt(8.0)
    assert(math.abs(last.getAs[Double]("sd") - math.rint(sd * 1e6) / 1e6) < 1e-9)
    val pctb = (16.0 - (12.0 - 2 * sd)) / (4 * sd)
    assert(math.abs(last.getAs[Double]("pctb") - math.rint(pctb * 1e6) / 1e6) < 1e-9)
  }

  test("macd: ramp onset flips histogram positive and flags one bull cross") {
    import spark.implicits._
    // flat 10s then a steep ramp: fast EWMA overtakes slow → hist > 0,
    // exactly one bull crossover at the onset, no bear cross anywhere
    val vals = Seq.fill(6)(10.0) ++ (1 to 6).map(i => 10.0 + 5.0 * i)
    val df = vals.zipWithIndex.map { case (v, i) =>
      (1L, f"2024-01-01 00:${i}%02d:00", v, i.toLong)
    }.toDF("k", "ts", "v", "id")
      .withColumn("ts", to_timestamp(col("ts")))
    val got = Sessionize.macd(df, "k", "ts", "v", "id").orderBy("id").collect()
    val crosses = got.flatMap(r => Option(r.getAs[String]("cross_flag"))).toSeq
    assert(crosses == Seq("bull"), s"crosses $crosses")
    assert(got.last.getAs[Double]("hist") > 0)
    assert(got.take(6).forall(_.getAs[Double]("macd") == 0.0))
  }

  test("holtForecast: constant series has zero trend; ramp trends up") {
    import spark.implicits._
    def mkTs(i: Int) = f"2024-01-01 00:$i%02d:00"
    val const = (0 until 5).map(i => (1L, mkTs(i), 7.0, i.toLong))
      .toDF("k", "ts", "v", "id").withColumn("ts", to_timestamp(col("ts")))
    val c = Sessionize.holtForecast(const, "k", "ts", "v", "id")
      .orderBy("id").collect()
    assert(c.forall(r => r.getAs[Double]("s1") == 7.0 &&
      r.getAs[Double]("level") == 7.0 && r.getAs[Double]("trend") == 0.0 &&
      r.getAs[Double]("forecast_7") == 7.0))
    // linear ramp: positive trend, and the forecast readout equals
    // level + 7*trend up to the independent 6-dp roundings
    val ramp = (0 until 10).map(i => (1L, mkTs(i), 1.0 * i, i.toLong))
      .toDF("k", "ts", "v", "id").withColumn("ts", to_timestamp(col("ts")))
    val g = Sessionize.holtForecast(ramp, "k", "ts", "v", "id")
      .orderBy("id").collect().last
    assert(g.getAs[Double]("trend") > 0)
    assert(math.abs(g.getAs[Double]("forecast_7") -
      (g.getAs[Double]("level") + 7.0 * g.getAs[Double]("trend"))) < 5e-6)
  }

  test("interpolateLinear blends interior grid points, carries the tail flat") {
    import spark.implicits._
    // observations at 00:30 (v=0) and 02:30 (v=4): hourly grid 00:00-02:00
    // → 00:00 dropped (before first obs), 01:00 = 1.0, 02:00 = 3.0
    val df = Seq((1L, "2024-01-01 00:30:00", 0.0, 1L),
      (1L, "2024-01-01 02:30:00", 4.0, 2L))
      .toDF("k", "ts", "v", "id")
      .withColumn("ts", to_timestamp(col("ts")))
    val got = Sessionize.interpolateLinear(df, "k", "ts", "v", "id")
      .orderBy("bucket_ts").collect()
      .map(r => (r.getTimestamp(1).toString, r.getDouble(2))).toSeq
    assert(got === Seq(("2024-01-01 01:00:00.0", 1.0), ("2024-01-01 02:00:00.0", 3.0)))
  }

  test("percentileTwoPass equals the single-pass exact percentile") {
    import spark.implicits._
    // values with duplicates, negatives, and a skew spike in one bucket
    val vals = Seq.tabulate(500)(i => (i % 37) * 1.5 - 10.0) ++
      Seq.fill(100)(3.25) ++ Seq(1e6, -1e6)
    val df = spark.sparkContext.parallelize(vals, 7).toDF("v")
    for (p <- Seq(0.0, 0.1, 0.5, 0.9, 0.99, 1.0)) {
      val expect = df.agg(round(expr(s"percentile(v, ${p}D)"), 6)).head().getDouble(0)
      val got = Aggregates.percentileTwoPass(df, "v", p, bins = 16)
        .head().getDouble(1)
      assert(got === expect, s"p=$p")
    }
    // degenerate: constant column
    val const = Seq.fill(10)(42.0).toDF("v")
    assert(Aggregates.percentileTwoPass(const, "v", 0.5).head().getDouble(1) === 42.0)
  }

  test("jaccardJoinExact matches brute force and keeps the exact-threshold pair") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "b c d"), (3L, "a b c d e"),
      (4L, "x y"), (5L, "x y"), (6L, "q r s t u v"))
    def jac(x: String, y: String): Double = {
      val (a, b) = (x.split(" ").toSet, y.split(" ").toSet)
      a.intersect(b).size.toDouble / a.union(b).size
    }
    val expected = (for {
      (i, ti) <- docs; (j, tj) <- docs
      if i < j && jac(ti, tj) >= 0.5
    } yield (i, j)).toSet
    // (1,2) sits exactly AT 0.5 (2/4) and must be kept
    assert(expected.contains((1L, 2L)))
    for (parts <- Seq(1, 5)) {
      val df = spark.sparkContext.parallelize(docs, parts).toDF("doc_id", "text")
      val got = ScaleDedup.jaccardJoinExact(df, "doc_id", "text", 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"parts=$parts")
    }
  }

  test("exactHeavyHittersByGroup applies each group's own threshold") {
    import spark.implicits._
    // group g1: 10 rows, "a"x6 qualifies at k=2 (cnt*2 > 10); g2: "a" is
    // light (4 of 12) but "z"x7 qualifies — thresholds are per group
    val rows = Seq.fill(6)(("g1", "a")) ++ (1 to 4).map(i => ("g1", s"x$i")) ++
      Seq.fill(4)(("g2", "a")) ++ Seq.fill(7)(("g2", "z")) ++ Seq(("g2", "y"))
    val df = spark.sparkContext.parallelize(rows, 5).toDF("g", "item")
    val got = Aggregates.exactHeavyHittersByGroup(df, "g", "item", k = 2, sketchK = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set(("g1", "a", 6L), ("g2", "z", 7L)))
  }

  test("psiDrift is zero on identical slices, positive under a shift") {
    import spark.implicits._
    val a = (1 to 200).map(i => (i % 100).toDouble).toDF("v")
    val same = Aggregates.psiDrift(a, a, col("v"), 10.0, 10).head()
    assert(same.getDouble(0) === 0.0)
    assert(same.getLong(1) === 10L)
    val shifted = (1 to 200).map(i => (i % 100).toDouble + 40.0).toDF("v")
    assert(Aggregates.psiDrift(a, shifted, col("v"), 10.0, 10).head().getDouble(0) > 0.1)
  }

  test("sortedNeighborPairs pairs each row with exactly its next-w sort neighbors") {
    import spark.implicits._
    val df = Seq((10L, "b"), (20L, "a"), (30L, "c"), (40L, "d")).toDF("id", "name")
    val got = ScaleDedup.sortedNeighborPairs(df, "id", col("name"), window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sort order a(20) b(10) c(30) d(40); pairs within rank distance 2
    assert(got === Set((20L, 10L), (20L, 30L), (10L, 30L), (10L, 40L), (30L, 40L)))
  }

  test("bandJoin equals the theta join, includes the boundary, no nested loop") {
    import spark.implicits._
    val lrows = Seq((1L, 100L), (2L, 250L), (3L, 999L))
    val rrows = Seq((10L, 149L), (11L, 151L), (12L, 1000L), (13L, 50L))
    val expected = (for {
      (lid, lv) <- lrows; (rid, rv) <- rrows
      if math.abs(lv - rv) <= 50L
    } yield (lid, rid)).toSet
    assert(expected.contains((1L, 13L)))   // |100-50| = 50: boundary kept
    val got = Joins.bandJoin(lrows.toDF("lid", "lv"), rrows.toDF("rid", "rv"),
      "lv", "rv", 50L)
    assert(got.select("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === expected)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"band join must stay an equi join:\n$plan")
  }

  test("ccIncremental bridges new edges into prior components == full recompute") {
    import spark.implicits._
    // old graph: {1,2} and {5,6}; new batch: node 3 bridges 2, node 4 island,
    // and a new edge 6-1 merges the two OLD components transitively
    val oldV = Seq(1L, 2L, 5L, 6L).toDF("id")
    val oldE = Seq((1L, 2L), (5L, 6L)).toDF("id1", "id2")
    val prev = ScaleDedup.connectedComponents(oldV, oldE)
    val newV = Seq(3L, 4L).toDF("id")
    val newE = Seq((2L, 3L), (6L, 1L)).toDF("id1", "id2")
    val got = ScaleDedup.ccIncremental(prev, newV, newE)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = ScaleDedup.connectedComponents(
        Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id"),
        Seq((1L, 2L), (5L, 6L), (2L, 3L), (6L, 1L)).toDF("id1", "id2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === full)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L, 6L -> 1L, 4L -> 4L))
  }

  test("MisraGries candidates are a superset of true heavy items under merge") {
    import spark.implicits._
    val stream = Seq.fill(500)("hot") ++ (1 to 450).map(i => s"cold$i")
    val df = spark.sparkContext.parallelize(stream, 7).toDF("item")
    // k=9 → undercount ≤ n/10 = 95; "hot" (500 > 95) must survive
    val cands = df
      .agg(graft.functions.MisraGries.misra_gries(org.apache.spark.sql.functions.col("item"), 9))
      .head().getSeq[String](0)
    assert(cands.size <= 9)
    assert(cands.contains("hot"))
  }

  test("intervalOverlapJoin == theta join, exactly-once pairs, no nested loop") {
    import spark.implicits._
    // variable-length intervals crossing bucket boundaries (width 100):
    // (1,[0,250]) spans 3 buckets and overlaps (10,[240,260]) in bucket 2
    // only — exactly-once emission would fail if pairs were kept in every
    // shared bucket; (3,[999,999]) is a point interval
    val lrows = Seq((1L, 0L, 250L), (2L, 300L, 310L), (3L, 999L, 999L))
    val rrows = Seq((10L, 240L, 260L), (11L, 250L, 305L), (12L, 990L, 1100L),
      (13L, 311L, 400L))
    val expected = (for {
      (lid, ls, le) <- lrows; (rid, rs, re) <- rrows
      if ls <= re && rs <= le
    } yield (lid, rid)).toSet
    assert(expected === Set((1L, 10L), (1L, 11L), (2L, 11L), (3L, 12L)))
    val got = Joins.intervalOverlapJoin(
      lrows.toDF("lid", "ls", "le"), rrows.toDF("rid", "rs", "re"),
      "ls", "le", "rs", "re", 100L)
    val pairs = got.select("lid", "rid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length === pairs.toSet.size, "each pair must emit exactly once")
    assert(pairs.toSet === expected)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join must stay an equi join:\n$plan")
  }

  test("tableChecksum is order/partitioning-invariant and change-sensitive") {
    import spark.implicits._
    val rows = Seq((1L, "a", "x"), (2L, "b", null), (3L, "c", "z"))
    val df = rows.toDF("id", "s", "t")
    val base = Inspect.tableChecksum(df, Seq("id", "s", "t")).head()
    // same rows, different order and partitioning → identical digest
    val shuffled = spark.sparkContext
      .parallelize(rows.reverse, 5).toDF("id", "s", "t")
    assert(Inspect.tableChecksum(shuffled, Seq("id", "s", "t")).head() === base)
    // one changed value → different digest, same row count
    val changed = Seq((1L, "a", "x"), (2L, "b", null), (3L, "c", "Z"))
      .toDF("id", "s", "t")
    val ch = Inspect.tableChecksum(changed, Seq("id", "s", "t")).head()
    assert(ch.getLong(0) === base.getLong(0))
    assert(ch.getDecimal(1) !== base.getDecimal(1))
    // null and empty string must digest differently
    val withEmpty = Seq((1L, "a", "x"), (2L, "b", ""), (3L, "c", "z"))
      .toDF("id", "s", "t")
    assert(Inspect.tableChecksum(withEmpty, Seq("id", "s", "t")).head()
      .getDecimal(1) !== base.getDecimal(1))
  }

  test("kmvRollup merged sketch == direct sketch of the union") {
    import spark.implicits._
    import graft.functions.BottomKSketch.bottom_k_sketch
    val k = 8
    val df = (1 to 200).map(i => (s"g${i % 5}", (i * 2654435761L) % 100000))
      .toDF("g", "h")
    val fine = df.groupBy("g").agg(bottom_k_sketch(col("h"), k).alias("sk"))
    val merged = Aggregates.kmvRollup(
        fine.withColumn("all", lit(1)), Seq("all"), "sk", k)
      .head().getSeq[Long](1)
    val direct = df.agg(bottom_k_sketch(col("h"), k)).head().getSeq[Long](0)
    assert(merged === direct)
  }

  test("collocations ranks a true collocation above a chance pair") {
    import spark.implicits._
    // "los angeles" always adjacent; "the cat"/"the dog" dilute "the"
    val docs = (Seq.fill(6)("visit los angeles today") ++
      Seq.fill(6)("the cat sat") ++ Seq.fill(6)("the dog ran")).toDF("text")
    val got = TextAnalysis.collocations(docs, "text", minCount = 5L, topN = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    val byPair = got.map(t => ((t._1, t._2), t._3)).toMap
    assert(byPair.contains(("los", "angeles")))
    // "the cat" occurs 6 times but "the" appears 12 times → lower PMI
    assert(byPair(("los", "angeles")) > byPair(("the", "cat")))
  }

  test("skewReport shares and ratios are exact on a known distribution") {
    import spark.implicits._
    val df = (Seq.fill(6)("hot") ++ Seq("a", "b", "c")).toDF("k")
    val got = Inspect.skewReport(df, "k", 2).collect()
    assert(got.length === 2)
    val top = got.head
    assert(top.getString(0) === "hot" && top.getLong(1) === 6L)
    assert(top.getDouble(2) === 0.666667)       // 6/9 rounded 6dp
    assert(top.getDouble(3) === 2.666667)       // 6 / (9/4 keys)
  }

  test("kCore: pendant chain peels away, triangle core survives k=2") {
    import spark.implicits._
    // triangle 1-2-3 with a chain 3-4-5 hanging off; k=2 peels 5 (deg 1),
    // then 4 (deg drops to 1) — the triangle remains at degree 2 each.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val core = Graph.kCore(edges, k = 2, rounds = 4).orderBy("node")
      .as[(Long, Long)].collect().toSeq
    assert(core == Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // k=3: nobody reaches degree 3 once anything peels; empty core.
    assert(Graph.kCore(edges, k = 3, rounds = 4).count() === 0L)
  }

  test("clusteringCoefficient: triangle corners 1, hub fraction, pendant 0") {
    import spark.implicits._
    // triangle 1-2-3 plus pendant 3-4: c(1)=c(2)=1, c(3)=2·1/(3·2)=1/3,
    // c(4)=0 by the deg<2 convention
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graph.clusteringCoefficient(edges).orderBy("node")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 0.333333), (4L, 1L, 0L, 0.0)))
  }

  test("richClub: triangle hubs form a perfect club, thin clubs pin NULL") {
    import spark.implicits._
    // triangle 1-2-3 (+ pendant 3-4): deg>1 club = {1,2,3}, fully wired
    // → φ(1) = 1; deg>2 club = {3} alone → NULL
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val rows = Graph.richClub(edges, maxK = 3).collect()
    assert(rows.length == 3)
    assert(rows(0).getLong(1) == 3 && rows(0).getLong(2) == 3 &&
      rows(0).getDouble(3) == 1.0)
    assert(rows(1).getLong(1) == 1 && rows(1).isNullAt(3))
    assert(rows(2).getLong(1) == 0 && rows(2).isNullAt(3))
  }

  test("kCoreWeighted: strong triangle survives, weak pendant chain peels") {
    import spark.implicits._
    // triangle 1-2-3 at w=0.9 (wdeg 1.8 each) with a weak chain 3-4-5:
    // node 5 (wdeg 0.4) peels, then 4 (0.5) — the triangle survives and
    // node 3 drops back to exactly 1.8 once the chain edge is gone.
    val edges = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (3L, 1L, 0.9),
      (3L, 4L, 0.5), (4L, 5L, 0.4)).toDF("src", "dst", "w")
    val core = Graph.kCoreWeighted(edges, minWeight = 1.0, rounds = 4)
      .orderBy("node").as[(Long, Double)].collect().toSeq
    assert(core == Seq((1L, 1.8), (2L, 1.8), (3L, 1.8)))
    // a threshold above the strongest weighted degree empties the core
    assert(Graph.kCoreWeighted(edges, minWeight = 2.0, rounds = 4)
      .count() === 0L)
  }

  test("edgeTriangleSupport: bridge edge reports 0, shared edge its count") {
    import spark.implicits._
    // diamond 1-2-3-4 (edge 2-3 shared by both triangles) plus pendant 4-5
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L)).toDF("src", "dst")
    val got = Graph.edgeTriangleSupport(edges).orderBy("a", "b")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 2L),
      (2L, 4L, 1L), (3L, 4L, 1L), (4L, 5L, 0L)))
  }

  test("kTruss: pendant chain peels, triangle edges survive k=3") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = Graph.kTruss(edges, k = 3, rounds = 2).orderBy("a", "b")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L)))
    // k=4 needs every edge in 2 triangles: one triangle can't supply it
    assert(Graph.kTruss(edges, k = 4, rounds = 2).count() === 0L)
  }

  test("personalizedPagerank: teleport mass returns to the seed only") {
    import spark.implicits._
    // directed chain 1→2→3 seeded at 1: hand-computed two iterations
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val got = Graph.personalizedPagerank(edges, seeds, iters = 2)
      .orderBy("node").as[(Long, Double)].collect().toSeq
    // r1 = (0.15, 0.85, 0); r2 = (0.15, 0.85·0.15, 0.85·0.85)
    assert(got == Seq((1L, 0.15), (2L, 0.1275), (3L, 0.7225)))
  }

  test("labelPropagation: bridged triangles stay two communities") {
    import spark.implicits._
    // two triangles joined by one bridge edge 3-10: connected components
    // would merge them; LPA keeps each triangle its own community.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L)).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
  }

  test("readabilityReport: simpler text scores higher Flesch") {
    import spark.implicits._
    val df = Seq(
      ("simple", "The cat sat. The dog ran. We go now."),
      ("dense", "Incomprehensibility notwithstanding, heterogeneous " +
        "organizational prioritization methodologies proliferate."))
      .toDF("source", "text")
    val rows = TextAnalysis.readabilityReport(df, "text", "source")
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(rows("simple") > 60.0, s"simple scored ${rows("simple")}")
    assert(rows("dense") < 0.0, s"dense scored ${rows("dense")}")
  }

  test("charsetProfile counts classes and flags encoding damage") {
    import spark.implicits._
    val df = Seq(
      ("clean", "abc 12"),                       // 3 letters, 2 digits, 1 space
      ("dirty", "ab�cd" + 0x02.toChar)).toDF("source", "text")
    val rows = TextAnalysis.charsetProfile(df, "text", "source")
      .collect().map(r => r.getString(0) -> r).toMap
    val clean = rows("clean")
    assert(clean.getLong(2) === 6L)              // n_chars
    assert(clean.getDouble(3) === 0.5)           // letters 3/6
    assert(clean.getDouble(4) === 0.333333)      // digits 2/6
    assert(clean.getLong(7) === 0L && clean.getLong(8) === 0L)
    val dirty = rows("dirty")
    assert(dirty.getLong(7) === 1L, "replacement char not flagged")
    assert(dirty.getLong(8) === 1L, "control char not flagged")
  }

  test("groupMode: deterministic smallest-value tie-break") {
    import spark.implicits._
    val df = Seq(("g1", "x"), ("g1", "x"), ("g1", "y"),
      ("g2", "b"), ("g2", "a"), ("g2", "b"), ("g2", "a")) // tie a=b=2
      .toDF("g", "v")
    val rows = graft.ops.Aggregates.groupMode(df, "g", "v")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq === Seq(("g1", "x", 2L), ("g2", "a", 2L)))
  }

  test("followsPairs: first-occurrence order, ties excluded") {
    import spark.implicits._
    def ts(s: Int) = java.sql.Timestamp.valueOf(s"2024-01-01 00:00:0$s")
    val df = Seq(
      (1L, ts(1), "a"), (1L, ts(2), "b"), (1L, ts(3), "a"), // a→b only
      (2L, ts(1), "b"), (2L, ts(2), "a"),                   // b→a
      (3L, ts(1), "a"), (3L, ts(1), "c"))                   // tie: no pair
      .toDF("u", "t", "e")
    val got = Sessionize.followsPairs(df, "u", "t", "e")
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got === Seq((("a", "b"), 1L, 0.333333), (("b", "a"), 1L, 0.333333)))
  }

  test("harmonicCentrality: path graph distances sum as 1/d") {
    import spark.implicits._
    // undirected path 1-2-3-4 (edges given both directions), seeds {1,4}
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 4L).toDF("node")
    val got = Graph.harmonicCentrality(edges, seeds, hops = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // node 2: d(1)=1, d(4)=2 → 1.5; node 3 symmetric; the seeds see
    // each other at d=3 → 1/3
    assert(got(2L) === ((2L, 1.5)) && got(3L) === ((2L, 1.5)))
    assert(got(1L) === ((1L, 0.333333)) && got(4L) === ((1L, 0.333333)))
  }

  test("hllDistinct: estimates land within the sketch's error band") {
    import spark.implicits._
    // 5000 distinct ids (well past m=256's linear-counting comfort) and
    // a second group with 40 distinct — both must come back within the
    // ~1.04/√m ≈ 6.5% standard error (allow 3σ), and repeated values
    // must not move the registers (duplicates are free).
    val big = (1 to 5000).map(i => ("big", i.toLong))
    val small = (1 to 40).flatMap(i => Seq(("small", i.toLong),
      ("small", i.toLong)))
    val df = (big ++ small).toDF("g", "id")
    val est = graft.ops.Aggregates.hllDistinct(df, "g", col("id"), p = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(est("big") - 5000) / 5000 < 0.20, s"big=${est("big")}")
    assert(math.abs(est("small") - 40) / 40 < 0.20, s"small=${est("small")}")
    // determinism: identical input → identical estimate
    val again = graft.ops.Aggregates.hllDistinct(df.repartition(7), "g",
      col("id"), p = 8).collect().map(r => r.getDouble(1)).toSeq
    assert(again === est.toSeq.sortBy(_._1).map(_._2))
  }

  test("hllRollup: day-grain registers merge to the direct estimate") {
    import spark.implicits._
    val df = (1 to 2000).map(i => ("g", i % 5, i.toLong)) // 5 "days"
      .toDF("g", "day", "id")
    val direct = graft.ops.Aggregates.hllDistinct(df, "g", col("id"), p = 8)
      .head().getDouble(1)
    val fine = graft.ops.Aggregates.hllRegisters(df, Seq("g", "day"),
      col("id"), p = 8)
    val rolled = graft.ops.Aggregates.hllEstimate(
      graft.ops.Aggregates.hllRollup(fine, Seq("g")), Seq("g"), p = 8)
      .head().getDouble(1)
    assert(rolled === direct, s"rollup $rolled != direct $direct")
  }

  test("rollingDistinct: trailing window unions the right days") {
    import spark.implicits._
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // day 1: {1,2}; day 2: {2,3}; day 4: {9}
    val df = Seq((ts(1), 1L), (ts(1), 2L), (ts(2), 2L), (ts(2), 3L),
      (ts(4), 9L)).toDF("t", "u")
    val got = graft.ops.Aggregates.rollingDistinct(df, col("t"), col("u"), 2)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // windows: [d-1, d] → day1 {1,2}=2; day2 {1,2,3}=3; day4 {9}=1
    assert(got === Map("2024-01-01" -> 2L, "2024-01-02" -> 3L,
      "2024-01-04" -> 1L))
  }

  test("peakConcurrency: overlapping sessions count; touching ones net") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    // u1: 10:00–10:10; u2: 10:05–10:12 (overlap → 2);
    // u3 starts 10:12 exactly as u2 ends (nets → still 2)
    val df = Seq((1L, ts("10:00:00"), 1L), (1L, ts("10:10:00"), 2L),
      (2L, ts("10:05:00"), 3L), (2L, ts("10:12:00"), 4L),
      (3L, ts("10:12:00"), 5L), (3L, ts("10:20:00"), 6L))
      .toDF("u", "t", "eid")
    val got = Sessionize.peakConcurrency(df, "u", "t", "eid", 30)
      .collect()
    assert(got.length === 1)
    assert(got.head.getLong(1) === 2L)
  }

  test("interpolatedLogProb matches the hand-computed JM mix") {
    import spark.implicits._
    // corpus: doc1 "a b a b a b a b", doc2 "q w e r t y u i"; N = 16.
    // doc1: P(b|a) = .7·4/4 + .3·4/16 = .775 (×4 positions),
    //       P(a|b) = .7·3/4 + .3·4/16 = .600 (×3)
    //       → (4·ln .775 + 3·ln .6)/7 = −0.364578
    // doc2: every continuation is deterministic: .7·1/1 + .3·1/16
    //       = .71875 → ln = −0.330242 (unique continuations beat
    //       repetition under an ML conditional — the JM mix rewards
    //       predictability, not repetition)
    val df = Seq((1L, "a b a b a b a b"), (2L, "q w e r t y u i"))
      .toDF("id", "text")
    val got = graft.ops.TextAnalysis.interpolatedLogProb(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) === -0.364578)
    assert(got(2L) === -0.330242)
  }

  test("entropyLDiversity fails the skewed group the distinct count passes") {
    import spark.implicits._
    // group 1: 98/1/1 split over 3 values — l_distinct = 3 but H << ln 3;
    // group 2: uniform over 4 values — H = ln 4 > ln 3 passes
    val rows = Seq.fill(98)((1, "x")) ++ Seq((1, "y"), (1, "z")) ++
      Seq("w", "x", "y", "z").flatMap(v => Seq((2, v), (2, v)))
    val got = graft.ops.Constraints.entropyLDiversityReport(
        rows.toDF("qid", "s"), Seq(col("qid")), Seq("qid"), col("s"), l = 3)
      .collect().map(r => r.getAs[Int]("qid") ->
        (r.getAs[Long]("l_distinct"), r.getAs[Boolean]("entropy_l_diverse"),
          r.getAs[Double]("effective_l"))).toMap
    assert(got(1)._1 == 3L && !got(1)._2)     // diverse by count, not entropy
    assert(got(2)._2 && math.abs(got(2)._3 - 4.0) < 1e-6)
  }

  test("kneserNeyLogProb matches the hand-computed discount + continuation mix") {
    import spark.implicits._
    // corpus: doc1 "a b", doc2 "a b a c". Bigram instances: (a b)x2,
    // (b a), (a c); prefix counts a=3, b=1; types {ab, ba, ac} -> nt=3;
    // N1+(a,.)=2, N1+(b,.)=1; N1+(.,b)=1, N1+(.,a)=1, N1+(.,c)=1. D=.75:
    //   P(b|a) = 1.25/3 + (.75*2/3)(1/3) = 0.583333...
    //   P(a|b) = .25/1  + (.75*1/1)(1/3) = 0.5
    //   P(c|a) = .25/3  + (.75*2/3)(1/3) = 0.25
    // doc1 = ln .58333 = -0.538997; doc2 = mean of all three = -0.872813
    val df = Seq((1L, "a b"), (2L, "a b a c")).toDF("id", "text")
    val got = TextAnalysis.kneserNeyLogProb(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val p_ba = 1.25 / 3 + (0.75 * 2 / 3) * (1.0 / 3)
    assert(math.abs(got(1L) - math.log(p_ba)) < 1e-6)
    assert(math.abs(got(2L) -
      (math.log(p_ba) + math.log(0.5) + math.log(0.25)) / 3) < 1e-6)
  }

  test("keepBestPerCluster keeps the highest-quality member") {
    import spark.implicits._
    val docs = Seq((1L, 100L), (2L, 300L), (3L, 300L), (4L, 50L))
      .toDF("doc_id", "n_chars")
    // cluster A = {1,2,3} (2 and 3 tie on quality → smaller id kept),
    // cluster B = {4} (singleton keeps itself, drops nothing)
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("id", "label")
    val got = graft.ops.ScaleDedup
      .keepBestPerCluster(docs, "doc_id", labels, col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq === Seq((1L, 2L, 3L, 2L), (4L, 4L, 1L, 0L)))
  }

  test("kAnonymityReport flags small combos and unanimous groups") {
    import spark.implicits._
    val df = Seq(
      ("us", 1, "A"), ("us", 1, "B"), ("us", 1, "A"),   // n=3, l=2
      ("uk", 2, "A"), ("uk", 2, "A"), ("uk", 2, "A"),   // n=3, unanimous
      ("fr", 3, "B"))                                   // n=1
      .toDF("country", "band", "seg")
    val got = Constraints.kAnonymityReport(df,
        Seq(col("country"), col("band")), Seq("country", "band"),
        col("seg"), k = 3, l = 2)
      .collect().map(r => (r.getString(0),
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
    assert(got("us") === ((3L, 2L, true, true)))
    assert(got("uk") === ((3L, 1L, true, false)), "unanimous group leaks")
    assert(got("fr") === ((1L, 1L, false, false)))
  }

  test("adamicAdar: square-with-diagonal scores the missing diagonal") {
    import spark.implicits._
    // square 1-2-3-4-1 plus chord 1-3: the only unlinked 2-hop pair is
    // (2,4), via common neighbors 1 and 3, both deg 3:
    // AA = 2/ln(3) = 1.820478
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val got = Graph.adamicAdar(edges, topN = 10).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((2L, 4L, 2L)))
    assert(math.abs(r.getDouble(3) - 2.0 / math.log(3.0)) < 1e-5)
  }

  test("orderConsistency folds both directions onto the unordered pair") {
    import spark.implicits._
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:0$s")
    // users 1,2: a before b; user 3: b before a
    val df = Seq((1L, ts(1), "a"), (1L, ts(2), "b"),
      (2L, ts(1), "a"), (2L, ts(2), "b"),
      (3L, ts(1), "b"), (3L, ts(2), "a")).toDF("u", "t", "e")
    val r = Sessionize.orderConsistency(df, "u", "t", "e").head()
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)) ===
      (("a", "b", 2L, 1L)))
    assert(r.getDouble(4) === 0.666667)
  }

  test("burstiness: a metronome scores exactly -1") {
    import spark.implicits._
    val df = (0 until 10).map(i => ("tick",
      java.sql.Timestamp.valueOf(f"2024-01-01 00:0$i%01d:00"), i.toLong))
      .toDF("e", "t", "eid")
    val r = Sessionize.burstiness(df, "e", "t", "eid").head()
    assert(r.getLong(1) === 9L)
    assert(r.getDouble(2) === 60000.0)  // exact 60 s gaps
    assert(r.getDouble(3) === 0.0)
    assert(r.getDouble(4) === -1.0)
  }

  test("userFeatures: hand-checked single-user row") {
    import spark.implicits._
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    val df = Seq((1L, ts(1), "view", 10.0), (1L, ts(3), "purchase", 30.0),
      (2L, ts(5), "view", 5.0)).toDF("u", "t", "e", "v")
    val got = Sessionize.userFeatures(df, "u", "t", "e", "v", "purchase")
      .collect().map(r => r.getLong(0) -> r).toMap
    val u1 = got(1L)
    assert(u1.getLong(1) === 2L && u1.getLong(2) === 2L) // events, days
    assert(u1.getLong(3) === 2L)  // tenure: Jan 1 → Jan 3
    assert(u1.getLong(4) === 2L)  // recency vs horizon Jan 5
    assert(u1.getDouble(5) === 20.0 && u1.getLong(6) === 1L)
    assert(u1.getDouble(7) === 0.5)
  }

  test("lexicalRichness: TTR and hapax share, hand-computed") {
    import spark.implicits._
    val df = Seq(("s1", "a a b")).toDF("source", "text")
    val r = graft.ops.TextAnalysis.lexicalRichness(df, "text", "source")
      .head()
    assert(r.getLong(1) === 3L && r.getLong(2) === 2L)
    assert(r.getDouble(3) === 0.666667)
    assert(r.getDouble(4) === 0.5)   // only "b" is hapax
  }

  test("repeatRate: Yule's K and Simpson's D, hand-computed") {
    import spark.implicits._
    // "a a b": N=3, V=2, sum f^2 = 5 -> K = 1e4*2/9, D = 2/6
    val df = Seq(("s1", "a a b"), ("s2", "x")).toDF("source", "text")
    val got = graft.ops.TextAnalysis.repeatRate(df, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val r = got("s1")
    assert(r.getLong(1) == 3 && r.getLong(2) == 2)
    assert(math.abs(r.getDouble(3) - 2222.222222) < 1e-9)
    assert(math.abs(r.getDouble(4) - 0.333333) < 1e-9)
    // a single-token group pins simpson_d NULL (0/0)
    assert(got("s2").isNullAt(4))
  }

  test("ngramDiversity: distinct-1/distinct-2 hand case, no-bigram NULLs") {
    import spark.implicits._
    // "a b a b": 4 unigrams / 2 distinct; bigrams (a b, b a, a b) -> 3/2
    val df = Seq(("s1", "a b a b"), ("s2", "x")).toDF("source", "text")
    val got = graft.ops.TextAnalysis.ngramDiversity(df, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val r = got("s1")
    assert(r.getLong(1) == 4 && r.getLong(2) == 2)
    assert(r.getDouble(3) == 0.5)
    assert(r.getLong(4) == 3 && r.getLong(5) == 2)
    assert(math.abs(r.getDouble(6) - 0.666667) < 1e-9)
    // a group with no 2-token document carries NULL bigram columns
    assert(got("s2").isNullAt(4) && got("s2").isNullAt(6))
  }

  test("graphSummary: triangle plus isolated nodes") {
    import spark.implicits._
    val nodes = (1L to 5L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = Graph.graphSummary(nodes, edges).head()
    assert(r.getLong(0) === 5L && r.getLong(1) === 3L)
    assert(r.getLong(2) === 3L)   // triangle + two singletons
    assert(r.getLong(3) === 3L && r.getLong(4) === 2L)
    assert(r.getDouble(5) === 0.6)
  }

  test("followsLag: hand-computed pair lags") {
    import spark.implicits._
    def ts(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // u1: a@1 → b@3 (lag 2000 ms); u2: a@10 → b@14 (lag 4000 ms)
    val df = Seq((1L, ts(1), "a"), (1L, ts(3), "b"),
      (2L, ts(10), "a"), (2L, ts(14), "b")).toDF("u", "t", "e")
    val r = Sessionize.followsLag(df, "u", "t", "e").head()
    assert((r.getString(0), r.getString(1), r.getLong(2)) === (("a", "b", 2L)))
    assert(r.getDouble(3) === 3000.0)   // median of 2000, 4000
    assert(r.getDouble(4) === 3800.0)   // p90 interpolates toward 4000
  }

  test("gapProfile: gaps land in the right fixed bands") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    // gaps for u1: 30 s (band 0), 10 min (band 2), 3 h (band 4)
    val df = Seq((1L, ts("00:00:00"), 1L), (1L, ts("00:00:30"), 2L),
      (1L, ts("00:10:30"), 3L), (1L, ts("03:10:30"), 4L))
      .toDF("u", "t", "eid")
    val got = Sessionize.gapProfile(df, "u", "t", "eid")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq === Seq((0L, "lt_1m", 1L, 0.333333),
      (2L, "5m_30m", 1L, 0.333333), (4L, "ge_2h", 1L, 0.333333)))
  }

  test("priceIndex: pure price doubling reads 2.0 on both indexes") {
    import spark.implicits._
    // two items, quantities shift, unit prices exactly double
    val df = Seq(("x", 0, 10.0, 100.0), ("x", 1, 5.0, 100.0),
      ("y", 0, 4.0, 20.0), ("y", 1, 8.0, 80.0)).toDF("i", "p", "q", "v")
    val r = graft.ops.Stats.priceIndex(df, "i", col("p"), col("q"),
      col("v")).head()
    assert(r.getLong(0) === 2L)
    assert(r.getDouble(1) === 2.0 && r.getDouble(2) === 2.0)
  }

  test("intervalUnion merges overlapping AND touching chains") {
    import spark.implicits._
    // [0,10]+[5,20]+[20,25] chain to one [0,25]; [30,40] stands alone
    val df = Seq(("a", 0L, 10L), ("a", 5L, 20L), ("a", 20L, 25L),
      ("a", 30L, 40L), ("b", 0L, 5L)).toDF("k", "s", "e")
    val got = Sessionize.intervalUnion(df, "k", col("s"), col("e"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got("a") === ((2L, 35L)))   // 25 + 10 covered
    assert(got("b") === ((1L, 5L)))
  }

  test("growthAccounting: new/retained/resurrected/churned ledger") {
    import spark.implicits._
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // d1 {A,B}; d2 {A,C}; d4 {B}
    val df = Seq((ts(1), 10L), (ts(1), 20L), (ts(2), 10L), (ts(2), 30L),
      (ts(4), 20L)).toDF("t", "u")
    val got = graft.ops.Aggregates.growthAccounting(df, col("t"), col("u"))
      .collect().map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    assert(got("2024-01-01") === ((2L, 2L, 0L, 0L, 0L)))
    // d2: C is new, A retained; B churned (active d1, absent d2)
    assert(got("2024-01-02") === ((2L, 1L, 1L, 0L, 1L)))
    // d4: B resurrected (first d1 < d4, not active d3)
    assert(got("2024-01-04") === ((1L, 0L, 0L, 1L, 0L)))
    // ledger identity: new + retained + resurrected = dau, every day
    got.values.foreach { case (dau, nw, re, rs, _) =>
      assert(nw + re + rs === dau)
    }
  }

  test("vocabCoverage: cumulative occurrence shares at checkpoints") {
    import spark.implicits._
    val toks = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c"))
      .toDF("tok")
    val got = graft.ops.TextAnalysis.vocabCoverage(toks, "tok", Seq(1, 2, 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 5L, 0.5), (2L, 8L, 0.8), (3L, 10L, 1.0)))
  }

  test("wilsonRank: 95/100 outranks 2/2 despite the lower raw rate") {
    import spark.implicits._
    val rows = (1 to 100).map(i => ("big", i <= 95)) ++
      Seq(("tiny", true), ("tiny", true))
    val got = graft.ops.Stats.wilsonRank(rows.toDF("item", "ok"),
        "item", col("ok"), z = 1.96, minTrials = 1L, topN = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    // hand-computed: p=1, n=2 → LB = 1/(1 + z²/2) = 0.342372
    assert(math.abs(got("tiny") - 1.0 / (1.0 + 1.96 * 1.96 / 2.0)) < 1e-6)
    assert(got("big") > 0.88 && got("big") > got("tiny"),
      s"volume must beat a perfect 2/2: $got")
  }

  test("latenessProfile: running-max lateness per key, firsts excluded") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val df = Seq((1L, ts("10:00:00"), 1L), (1L, ts("09:59:00"), 2L),
      (1L, ts("10:01:00"), 3L)).toDF("u", "t", "eid")
    val r = Sessionize.latenessProfile(df, "u", "t", "eid").head()
    assert(r.getLong(0) === 2L)               // first arrival excluded
    assert(r.getLong(1) === 1L)               // one late event
    assert(r.getLong(2) === 60000L)           // 60 s behind the max
    assert(r.getDouble(3) === 30000.0)        // p50 interpolates 0..60000
  }

  test("modularity: two clean triangles contribute 0.25 each") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 2L), (11L, 2L), (12L, 2L)).toDF("node", "community")
    val got = Graph.modularity(edges, labels).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    // m = 6; each triangle: m_c = 3, d_c = 6
    // → 3/6 − (6/12)² = 0.25; total Q = 0.5 (a clean 2-community split)
    assert(got(1L) === ((3L, 3L, 6L, 0.25)))
    assert(got(2L) === ((3L, 3L, 6L, 0.25)))
  }

  test("degreeAssortativity: a path graph is disassortative at -0.5") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = Graph.degreeAssortativity(edges).head()
    assert(r.getLong(0) === 6L)
    assert(r.getDouble(1) === -0.5)
  }

  test("itemItemCosine: cosine damps popularity, support floor holds") {
    import spark.implicits._
    // baskets: {a,b}, {a,b}, {a,c} → (a,b) cooc 2 survives minSupport 2,
    // (a,c) dies; cos(a,b) = 2/√(3·2) = 0.816497
    val df = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c")).toDF("bk", "it")
    val got = graft.ops.Stats.itemItemCosine(df, "bk", "it",
        minSupport = 2L, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    assert(got.toSeq === Seq(("a", "b", 2L, 0.816497, 1L),
      ("b", "a", 2L, 0.816497, 1L)))
  }

  test("hardNegatives keeps only different-label neighbors, ranked by cosine") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), "A"), (2L, Seq(1.0f, 0.0f), "A"),
      (3L, Seq(0.9f, 0.1f), "B"), (4L, Seq(0.0f, 1.0f), "B"))
      .toDF("vec_id", "embedding", "label")
    val probes = corpus.filter(col("vec_id") === 1L)
      .select(col("vec_id").alias("qid"), col("label").alias("qlabel"),
        graft.ops.Similarity.asDouble(col("embedding")).alias("qv"))
    val got = graft.ops.Similarity.hardNegatives(
      corpus, "vec_id", "embedding", "label", probes, k = 2).collect()
    // same-label id 2 (cos 1.0) is excluded; id 3 (near-parallel B)
    // outranks the orthogonal id 4
    assert(got.map(_.getLong(3)).toSeq == Seq(3L, 4L))
    assert(got.forall(_.getString(4) == "B"))
    assert(got(0).getDouble(5) > got(1).getDouble(5))
  }

  test("alphaSample flattens the mix at alpha<1 and degenerates at alpha=1") {
    import spark.implicits._
    val rows = ((1 to 100).map(i => ("A", i.toLong)) ++
      (101 to 125).map(i => ("B", i.toLong))).toDF("source", "id")
    // n = (100, 25), α = 0.5 → pw = (10, 5), N = 125, S = 15:
    // rate_A = 625/1500, rate_B = 312.5/375
    val got = graft.ops.Mix.alphaSample(rows, "source", "id", 0.5, 0.5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(got("A")._1 == 100 && got("B")._1 == 25)
    assert(got("A")._2 == 0.416666667 && got("B")._2 == 0.833333333)
    assert(got("B")._2 > got("A")._2) // small domain kept at a higher rate
    assert(got("A")._3 <= 100 && got("B")._3 <= 25)
    // α = 1 reproduces the natural mix: every domain keeps `budget`
    val nat = graft.ops.Mix.alphaSample(rows, "source", "id", 1.0, 0.5)
      .collect().map(_.getDouble(2))
    assert(nat.forall(_ == 0.5))
  }

  test("sourceOverlap reports vocab Jaccard for intersecting pairs only") {
    import spark.implicits._
    val docs = Seq(("A", "x y"), ("B", "y z"), ("C", "p q"))
      .toDF("source", "text")
    val got = graft.ops.TextAnalysis.sourceOverlap(docs, "source", "text")
      .collect()
    // A∩B = {y}; C is disjoint from both, so no C rows appear
    assert(got.length == 1)
    val r = got.head
    assert(r.getString(0) == "A" && r.getString(1) == "B")
    assert(r.getLong(2) == 2 && r.getLong(3) == 2 && r.getLong(4) == 1)
    assert(r.getDouble(5) == 0.333333)
  }

  test("rankBiasedOverlap matches the hand-computed prefix weights") {
    import spark.implicits._
    // p=0.5 → weights (0.5, 0.25, 0.125); overlaps per depth (1, 1, 2):
    // rbo = 0.5 + 0.25/2 + 0.125·2/3
    val a = Seq(("q1", 1L, 1L), ("q1", 2L, 2L), ("q1", 3L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val b = Seq(("q1", 1L, 1L), ("q1", 3L, 2L), ("q1", 4L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val r = graft.ops.TextAnalysis.rankBiasedOverlap(a, b, "query_id",
      "doc_id", "rank", k = 3, p = 0.5).collect().head
    assert(r.getLong(1) == 2)
    assert(r.getDouble(2) == 0.708333)
    // identical runs → rbo = Σ weights = 1 − p^k
    val s = graft.ops.TextAnalysis.rankBiasedOverlap(a, a, "query_id",
      "doc_id", "rank", k = 3, p = 0.5).collect().head
    assert(s.getLong(1) == 3 && s.getDouble(2) == 0.875)
  }

  test("mmrSelect picks relevance first, then penalizes the near-duplicate") {
    import spark.implicits._
    // query [1,0,0]: c (id 3) is most relevant (0.8) and goes first; a
    // (id 1) and its exact duplicate b (id 2) tie on the MMR score at
    // λ=0.5 — a wins on the id tie-break, and the duplicate b is last
    val corpus = Seq(
      (1L, Seq(0.6f, 0.8f, 0.0f)), (2L, Seq(0.6f, 0.8f, 0.0f)),
      (3L, Seq(0.8f, 0.0f, 0.6f)))
      .toDF("vec_id", "embedding")
    val q = Seq(Tuple1(Seq(1.0, 0.0, 0.0))).toDF("qv")
    val got = graft.ops.Similarity.mmrSelect(corpus, "vec_id", "embedding",
      q, k = 3, poolSize = 3, lambda = 0.5).collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(3L, 1L, 2L))
    // rank 1 score is λ·rel exactly; the duplicate's penalty is its
    // full cosine to a (sim 1.0): 0.5·0.6 − 0.5·1.0
    assert(got(0).getDouble(3) == 0.4)
    assert(got(2).getDouble(3) == -0.2)
  }

  test("centroidClassify: separable clusters produce a diagonal matrix") {
    import spark.implicits._
    // two tight clusters on orthogonal axes
    val rows = (1 to 10).map { i =>
      val eps = i * 0.01f
      if (i % 2 == 0) (i.toLong, Array(1.0f, eps, 0f, 0f), 0)
      else (i.toLong, Array(eps, 1.0f, 0f, 0f), 1)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidClassify(df, "vec_id", "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq === Seq((0, 0, 5L), (1, 1, 5L)))
  }

  test("woeIv: separating bin gets positive WoE, IV sums the evidence") {
    import spark.implicits._
    // bin p: 3 pos / 1 neg; bin n: 1 pos / 3 neg (G = B = 4):
    // pg(p) = 3.5/4.5, pb(p) = 1.5/4.5 → woe(p) = ln(7/3)
    val df = (Seq.fill(3)(("p", true)) ++ Seq(("p", false)) ++
      Seq(("n", true)) ++ Seq.fill(3)(("n", false))).toDF("bin", "y")
    val got = Features.woeIv(df, col("y"), Seq("f" -> col("bin")))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    val woeP = math.log(7.0 / 3.0)
    val ivExp = 2 * ((3.5 / 4.5 - 1.5 / 4.5) * woeP)
    assert(got.toSeq.map(t => (t._1, t._2, t._3)) ==
      Seq(("n", 1L, 3L), ("p", 3L, 1L)))
    assert(math.abs(got(1)._4 - woeP) < 1e-6)
    assert(math.abs(got(0)._4 - (-woeP)) < 1e-6)
    assert(got.forall(t => math.abs(t._5 - ivExp) < 1e-6))
  }

  test("targetEncodeOOF: held-out folds only, prior pulls toward global mean") {
    import spark.implicits._
    // cat a: fold 0 has y=(1,1), fold 1 has y=(0,0); global mean = 0.5
    // enc(a, 0) = (sum_a − sum_{a,0} + m·μ)/(n_a − n_{a,0} + m)
    //           = (2 − 2 + 1·0.5)/(4 − 2 + 1) = 1/6  (sees only fold 1)
    // enc(a, 1) = (2 − 0 + 0.5)/(2 + 1) = 5/6
    val df = Seq(("a", 0L, 1.0), ("a", 0L, 1.0), ("a", 1L, 0.0),
      ("a", 1L, 0.0)).toDF("c", "f", "y")
    val got = Features.targetEncodeOOF(df, col("c"), col("y"), col("f"),
        priorWeight = 1.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == Seq(("a", 0L, 2L, 0.166667), ("a", 1L, 2L, 0.833333)))
  }

  test("quantileNormalize maps each group onto the global grid") {
    import spark.implicits._
    // group A = (0, 10), group B = (100, 110): global sorted
    // (0, 10, 100, 110). Each group's two values sit at p = 0.25/0.75,
    // so both groups normalize to the SAME reference values — the
    // global p25/p75 — erasing the between-group shift.
    val df = Seq(("A", 0.0), ("A", 10.0), ("B", 100.0), ("B", 110.0))
      .toDF("g", "v")
    val got = Features.quantileNormalize(df, col("v"), col("g"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
    assert(got.length == 4)
    assert(got.forall(t => t._3 == 0.25 || t._3 == 0.75))
    val lowA = got.find(t => t._1 == "A" && t._3 == 0.25).get._4
    val lowB = got.find(t => t._1 == "B" && t._3 == 0.25).get._4
    val hiA = got.find(t => t._1 == "A" && t._3 == 0.75).get._4
    val hiB = got.find(t => t._1 == "B" && t._3 == 0.75).get._4
    assert(lowA == lowB && hiA == hiB)
    // the reference values are the global quantile_cont at 0.25/0.75:
    // grid deciles of (0,10,100,110) interpolated at p·10
    assert(lowA > 0.0 && lowA < 100.0 && hiA > lowA)
  }

  test("fellegiSunter: smoothed m/u weights and pair scores by hand") {
    import spark.implicits._
    // 2 labeled matches (both agree), 2 non-matches (one agrees):
    // m = (2+0.5)/(2+1) = 5/6, u = (1+0.5)/(2+1) = 1/2
    val pairs = Seq((1L, 2L, 1, true), (3L, 4L, 1, true),
      (5L, 6L, 0, true), (7L, 8L, 0, false)).toDF("id1", "id2", "lab", "f1")
    val fields = Seq("f1" -> col("f1"))
    val w = Linkage.fellegiSunterWeights(pairs, col("lab") === 1, fields)
      .collect().head
    assert(w.getString(0) == "f1")
    assert(math.abs(w.getDouble(1) - 5.0 / 6) < 1e-6)
    assert(math.abs(w.getDouble(2) - 0.5) < 1e-6)
    assert(math.abs(w.getDouble(3) - math.log(5.0 / 3) / math.log(2)) < 1e-6)
    assert(math.abs(w.getDouble(4) - math.log(1.0 / 3) / math.log(2)) < 1e-6)
    // agreeing pairs share the top score; the disagreeing pair is last
    val s = Linkage.fellegiSunterScore(pairs, col("lab") === 1, fields, 4)
      .collect()
    assert(s.length == 4)
    assert(s.take(3).forall(r => math.abs(r.getDouble(3) - 0.736966) < 1e-6))
    assert(s(0).getLong(0) == 1 && s(3).getLong(0) == 7)
    assert(s(3).getLong(2) == 0 &&
      math.abs(s(3).getDouble(3) - (-1.584963)) < 1e-6)
  }

  test("keyness: hand-computed G2, enrichment direction") {
    import spark.implicits._
    // A = (x,x,x,y), B = (y,y,y): x exclusive to A, y enriched in B
    val a = Seq("x x x y").toDF("text")
    val b = Seq("y y y").toDF("text")
    val got = TextAnalysis.keyness(a, b, "text").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4))).toMap
    val gx = 2.0 * 3 * math.log(3.0 / (4.0 * 3 / 7))
    val gy = 2.0 * (1 * math.log(1.0 / (4.0 * 4 / 7)) +
      3 * math.log(3.0 / (3.0 * 4 / 7)))
    assert(math.abs(got("x")._3 - gx) < 1e-6 && got("x")._4 == "a")
    assert(math.abs(got("y")._3 - gy) < 1e-6 && got("y")._4 == "b")
  }

  test("captureRecapture: textbook Chapman estimate") {
    import spark.implicits._
    // crawl1 sees docs 1-6, crawl2 sees 4-9: n1 = 6, n2 = 6, m = 3
    // → N̂ = 7·7/4 − 1 = 11.25 (true population 9)
    val all = (1 to 9).map(i => (i.toLong, s"doc number $i"))
    val c1 = all.filter(_._1 <= 6).toDF("doc_id", "text")
    val c2 = all.filter(_._1 >= 4).toDF("doc_id", "text")
    val r = TextAnalysis.captureRecapture(c1, c2, "text").collect().head
    assert(r.getLong(0) == 6 && r.getLong(1) == 6 && r.getLong(2) == 3)
    assert(math.abs(r.getDouble(3) - 11.25) < 1e-9)
    assert(r.getDouble(4) > 0.0)
  }

  test("vocabRichness: hand-computed Chao1 and unseen mass") {
    import spark.implicits._
    // counts: a=3, b=1, c=1, d=2 → V=4, N=7, N1=2, N2=1
    // → Chao1 = 4 + 4/2 = 6, unseen = 2/7
    val df = Seq("a a a b", "c d d").toDF("text")
    val r = TextAnalysis.vocabRichness(df, "text").collect().head
    assert(r.getLong(0) == 4 && r.getLong(1) == 7 &&
      r.getLong(2) == 2 && r.getLong(3) == 1)
    assert(r.getDouble(4) == 6.0)
    assert(math.abs(r.getDouble(5) - 2.0 / 7) < 1e-6)
  }

  test("heapsLaw: all-new vocabulary per doc fits beta = 1 exactly") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, s"t${i}a t${i}b")).toDF("doc_id", "text")
    val r = TextAnalysis.heapsLaw(docs, "doc_id", "text").collect().head
    assert(r.getLong(0) == 10)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-3)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-6)
    // V = N exactly → K = 1
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-3)
  }

  test("markovEntropyRate: deterministic chain 0, fair branch ln 2") {
    import spark.implicits._
    import java.sql.Timestamp
    def ts(i: Int) = new Timestamp(1700000000000L + i * 1000L)
    // a,b,a,b → every transition is forced → H = 0, perplexity 1
    val det = Seq((1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"),
      (1L, ts(3), 3L, "a"), (1L, ts(4), 4L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val d = Sessionize.markovEntropyRate(det, "user_id", "ts",
      "event_id", "event_type").collect().head
    assert(d.getLong(0) == 3 && d.getDouble(2) == 0.0 && d.getDouble(3) == 1.0)
    // a,a,b → a goes to a or b evenly → H = ln 2, perplexity 2
    val fair = Seq((1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "a"),
      (1L, ts(3), 3L, "b")).toDF("user_id", "ts", "event_id", "event_type")
    val f = Sessionize.markovEntropyRate(fair, "user_id", "ts",
      "event_id", "event_type").collect().head
    assert(math.abs(f.getDouble(2) - math.log(2.0)) < 1e-6)
    assert(math.abs(f.getDouble(3) - 2.0) < 1e-6)
  }

  test("tokenBudgetSelect: best band whole, straddler fractional, rest zero") {
    import spark.implicits._
    // bands 3/2/1 hold 50/30/40 tokens; budget 70 → 1.0, 2/3, 0
    val df = Seq((3L, 50L), (2L, 30L), (1L, 40L)).toDF("band", "ntok")
    val got = Pack.tokenBudgetSelect(df, col("band"), col("ntok"), 70L)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getDouble(4)))
    assert(got.toSeq == Seq((3L, 50L, 1.0), (2L, 80L, 0.666667),
      (1L, 120L, 0.0)))
  }

  test("clusterQualityReport: tight separated clusters score near 1") {
    import spark.implicits._
    // two tight clusters far apart in 4-dim space: silhouette ≈ 1,
    // tiny dispersion, small DB component
    val rows = (1 to 16).map { i =>
      val eps = (i % 4) * 0.01f
      if (i % 2 == 0) (i.toLong, Array(10.0f + eps, 0f, 0f, 0f))
      else (i.toLong, Array(0f, 10.0f + eps, 0f, 0f))
    }
    val got = Similarity.clusterQualityReport(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nCells = 2, iters = 3, dim = 4).collect()
    assert(got.length == 2)
    got.foreach { r =>
      assert(r.getLong(1) == 8)
      assert(r.getDouble(2) > 0.95)
      assert(r.getDouble(3) < 0.1)
      assert(r.getDouble(4) < 0.1)
    }
  }

  test("negativeSamples: every draw lands once, heavy token dominates") {
    import spark.implicits._
    // "a" appears 100x per doc-corpus vs one "b": p(a) = 100^.75/(100^.75+1)
    val docs = (1L to 40L).map(i =>
      (i, if (i == 1) "b" else Seq.fill(5)("a").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Mix.negativeSamples(docs, "doc_id", "text", drawsPerDoc = 3,
      buckets = 64, topN = 10).collect()
    // partition of [0, Z): the 120 draws match exactly one token each
    assert(got.map(_.getLong(1)).sum == 40L * 3)
    val a = got.find(_.getString(0) == "a").get
    assert(a.getLong(1) > 100)
    assert(a.getDouble(3) > 0.8 && a.getDouble(3) < 1.2)
  }

  test("dsirImportance matches brute-force LLR and ranks target-like docs first") {
    import spark.implicits._
    // target slice (ids 0, 37): "alpha"-heavy; source docs 1-6 split
    // between alpha-like (target vocabulary) and zulu-like (disjoint)
    val docs = Seq(
      (0L, "alpha beta alpha beta"), (37L, "alpha beta gamma"),
      (1L, "alpha beta alpha"), (2L, "alpha beta gamma beta"),
      (3L, "zulu yankee xray"), (4L, "zulu yankee zulu yankee"),
      (5L, "alpha"), (6L, "zulu")).toDF("doc_id", "text")
    val got = Mix.dsirImportance(docs, "doc_id", "text",
      col("doc_id") % 37 === 0, buckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // target docs are scored out; every source doc is scored
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    // feature multiset = unigrams + bigrams = 2n-1
    assert(got(1L)._1 == 5L && got(5L)._1 == 1L)
    // brute-force the published formula for doc 1: hashed buckets,
    // add-one smoothing, 9-dp-rounded per-bucket LLR, summed
    def h32(s: String): Long =
      java.lang.Long.parseLong(java.security.MessageDigest.getInstance("MD5")
        .digest((s + "#0").getBytes("UTF-8")).take(4)
        .map(b => f"${b & 0xff}%02x").mkString, 16)
    def feats(t: String): Seq[Long] = {
      val w = t.split(" ", -1).toSeq
      (w ++ w.sliding(2).filter(_.size == 2).map(_.mkString(" ")))
        .map(f => h32(f) % 64)
    }
    val all = Seq(0L -> "alpha beta alpha beta", 37L -> "alpha beta gamma",
      1L -> "alpha beta alpha", 2L -> "alpha beta gamma beta",
      3L -> "zulu yankee xray", 4L -> "zulu yankee zulu yankee",
      5L -> "alpha", 6L -> "zulu")
    val tf = all.filter(_._1 % 37 == 0).flatMap(d => feats(d._2))
    val sf = all.filterNot(_._1 % 37 == 0).flatMap(d => feats(d._2))
    val (tt, st) = (tf.size.toDouble, sf.size.toDouble)
    def lw(b: Long): BigDecimal = BigDecimal(
      math.log((tf.count(_ == b) + 1.0) / (tt + 64.0)) -
        math.log((sf.count(_ == b) + 1.0) / (st + 64.0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val want1 = feats("alpha beta alpha").map(lw).sum.toDouble
    assert(math.abs(got(1L)._2 - BigDecimal(want1)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // target-vocabulary docs outrank disjoint-vocabulary docs
    assert(Seq(1L, 2L).map(got(_)._2).min > Seq(3L, 4L, 6L).map(got(_)._2).max)
    val boom = intercept[IllegalArgumentException] {
      Mix.dsirImportance(docs, "doc_id", "text", col("doc_id") === 0, buckets = 1)
    }
    assert(boom.getMessage.contains("bad buckets"))
  }

  test("cooccurrence: 1/d weights within the window, adjacency first") {
    import spark.implicits._
    val df = Seq("a b c").toDF("text")
    val got = TextAnalysis.cooccurrence(df, "text", window = 4, topN = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(got.toSeq == Seq(("a", "b", 1L, 1.0), ("b", "c", 1L, 1.0),
      ("a", "c", 1L, 0.5)))
    // window = 1 keeps only adjacent pairs
    val adj = TextAnalysis.cooccurrence(df, "text", window = 1, topN = 10)
      .collect()
    assert(adj.length == 2)
    // pair-budget guard fires loudly instead of fanning the scan stage:
    // 3 tokens × window 2 = 6 > maxPairs 5
    val boom = intercept[Exception] {
      TextAnalysis.cooccurrence(df, "text", window = 2, topN = 10,
        maxPairs = 5L).collect()
    }
    assert(boom.getMessage.contains("total tokens exceeds"))
  }

  test("quantizationReport: exact grid points survive, off-grid errs") {
    import spark.implicits._
    // dim-1 scale = 1/127: 1.0 is exactly representable (q = 127),
    // 0.5 rounds to 64/127; dim-2 is all-zero → scale 0, dequant 0
    val df = Seq((1L, Array(1.0f, 0.0f), 0), (2L, Array(0.5f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.quantizationReport(df, "embedding", "label", dim = 2)
      .collect().head
    assert(r.getInt(0) == 0 && r.getLong(1) == 2)
    // both rows stay colinear with their originals → mean cosine 1
    assert(r.getDouble(2) == 1.0)
    val err = (64.0 / 127 - 0.5) / 4
    assert(math.abs(r.getDouble(3) - err) < 1e-6)
  }

  test("dedupSavings: global keep-first attributed per source") {
    import spark.implicits._
    // A: two copies of "a b" + unique "c"; B: a third copy of "a b"
    // whose keeper lives in A → B saves 100% of its tokens
    val df = Seq((1L, "a b", "A"), (2L, "a b", "A"), (3L, "c", "A"),
      (4L, "a b", "B")).toDF("doc_id", "text", "source")
    val got = TextAnalysis.dedupSavings(df, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq == Seq(("A", 3L, 2L, 5L, 3L, 0.4),
      ("B", 1L, 0L, 2L, 0L, 1.0)))
  }

  test("bpeFertility: consistent with the kernel, word counts exact") {
    import spark.implicits._
    val df = Seq((1L, "hello world", "A"), (2L, "hello world", "A"))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.bpeFertility(df, "text", "source").collect().head
    assert(r.getString(0) == "A" && r.getLong(1) == 2 && r.getLong(2) == 4)
    // n_bpe is exactly twice one doc's kernel output; fertility matches
    val one = df.limit(1).select(
      size(graft.functions.Bpe.bpe_tokens(col("text"),
        TextAnalysis.DefaultBpeMerges)).cast("long")).head.getLong(0)
    assert(r.getLong(3) == 2 * one)
    assert(math.abs(r.getDouble(4) - 2.0 * one / 4.0) < 1e-6)
  }

  test("hellingerDrift: hand-computed BC and H, identical slices at 0") {
    import spark.implicits._
    // A = (a,a,b), B = (a,b,b,b): BC = √(2/3·1/4) + √(1/3·3/4)
    val a = Seq("a a b").toDF("text")
    val b = Seq("a b b b").toDF("text")
    val r = TextAnalysis.hellingerDrift(a, b, "text").collect().head
    val bc = math.sqrt(2.0 / 3 * 0.25) + math.sqrt(1.0 / 3 * 0.75)
    assert(r.getLong(0) == 2)
    assert(math.abs(r.getDouble(1) - bc) < 1e-6)
    assert(math.abs(r.getDouble(2) - math.sqrt(1 - bc)) < 1e-6)
    // identical slices: BC = 1, H = 0 (greatest-guard keeps sqrt real)
    val same = TextAnalysis.hellingerDrift(a, a, "text").collect().head
    assert(same.getDouble(1) == 1.0 && same.getDouble(2) == 0.0)
  }

  test("dispersionReport: resultant identity equals the exact pairwise mean") {
    import spark.implicits._
    // label 0: unit vectors (1,0),(0,1),(1,0) → S = (2,1), ‖S‖² = 5,
    // mean pairwise cos = (5−3)/(3·2) = 1/3 (pairs: two 1.0, four 0.0)
    // label 1: singleton (3,4) → norm 5, pairwise NULL, resultant 1
    // label 2: only a zero vector → excluded entirely
    val df = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.0f, 1.0f), 0),
      (3L, Array(1.0f, 0.0f), 0), (4L, Array(3.0f, 4.0f), 1),
      (5L, Array(0.0f, 0.0f), 2)).toDF("vec_id", "embedding", "label")
    val rows = Similarity.dispersionReport(df, "embedding", "label")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(rows.keySet == Set(0, 1))
    val l0 = rows(0)
    assert(l0.getLong(1) == 3 && l0.getDouble(2) == 1.0)
    assert(math.abs(l0.getDouble(3) - 1.0 / 3) < 1e-6)
    assert(math.abs(l0.getDouble(4) - math.sqrt(5.0) / 3) < 1e-6)
    val l1 = rows(1)
    assert(l1.getLong(1) == 1 && l1.getDouble(2) == 5.0)
    assert(l1.isNullAt(3))
    assert(math.abs(l1.getDouble(4) - 1.0) < 1e-9)
  }

  test("zipfSlope: an exact 1/rank head fits slope -1 with r2 = 1") {
    import spark.implicits._
    // counts 12, 6, 4, 3 = 12/rank for ranks 1..4: ln-ln points are
    // exactly collinear, so the OLS reads slope -1, intercept ln 12
    val words = Seq.fill(12)("a") ++ Seq.fill(6)("b") ++
      Seq.fill(4)("c") ++ Seq.fill(3)("d")
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val r = TextAnalysis.zipfSlope(docs, "text", topN = 8).collect().head
    assert(r.getLong(0) == 4)
    assert(math.abs(r.getDouble(1) - (-1.0)) < 1e-6)
    assert(math.abs(r.getDouble(2) - math.log(12.0)) < 1e-6)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-6)
  }

  test("scriptMix: hand-counted class fractions on a 6-char doc") {
    import spark.implicits._
    // "ab 12!" -> 6 chars: 2 letters, 2 digits, 1 space, 1 other
    val docs = Seq(("s1", "ab 12!"), ("s1", "ab 12!"), ("s2", ""))
      .toDF("source", "text")
    val r = TextAnalysis.scriptMix(docs, col("source"), "text").collect()
    assert(r.length == 1) // empty doc (and its source) dropped
    val g = r.head
    assert(g.getString(0) == "s1" && g.getLong(1) == 2)
    assert(math.abs(g.getDouble(2) - 2.0 / 6) < 1e-6)
    assert(math.abs(g.getDouble(3) - 2.0 / 6) < 1e-6)
    assert(math.abs(g.getDouble(4) - 1.0 / 6) < 1e-6)
    assert(math.abs(g.getDouble(5) - 1.0 / 6) < 1e-6)
  }

  test("piiAudit counts exactly what scrubPii would redact") {
    import spark.implicits._
    val docs = Seq(
      ("a", "mail me at bob@example.com or alice@test.org thanks"),
      ("a", "see https://example.com/x and http://y.io"),
      ("a", "clean text"),
      ("b", "also clean")).toDF("source", "text")
    val got = TextAnalysis.piiAudit(docs, col("source"), "text").collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getLong(1) == 3 && a.getLong(2) == 1 && a.getLong(3) == 1)
    assert(a.getLong(4) == 2 && a.getLong(5) == 2)
    assert(math.abs(a.getDouble(6) - 2.0 / 3) < 1e-6)
    val b = got("b")
    assert(b.getLong(4) == 0 && b.getLong(5) == 0 && b.getDouble(6) == 0.0)
  }

}

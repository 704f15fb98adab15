package graft

import org.apache.spark.sql.functions._
import graft.functions.{HashFns, TextFns, VecFns}
import graft.sources.Tables

/** Native Catalyst expressions must be value-identical to the
  * composed higher-order-function definitions (which is the shape
  * the DuckDB oracle evaluates). */
class NativeParitySpec extends SparkSpec {
  import spark.implicits._

  test("PolyHashStr == HOF polyhash on all documents") {
    val bad = Tables.documents(spark, sf)
      .select(HashFns.polyHash(lower($"text")).as("native"),
        HashFns.polyHashHof(lower($"text")).as("hof"))
      .filter($"native" =!= $"hof")
    assert(bad.isEmpty)
  }

  test("MinHashArr == HOF minhash pipeline on all documents") {
    val sh = Tables.documents(spark, sf)
      .select($"doc_id", array_distinct(TextFns.tokenShingles($"text", 3)).as("shingles"))
    val bad = sh.select(
      HashFns.minHashesNative($"shingles").as("native"),
      HashFns.minHashes(transform($"shingles", s => HashFns.polyHashHof(s))).as("hof"))
      .filter(to_json($"native") =!= to_json($"hof"))
    assert(bad.isEmpty)
  }

  test("SqDistFF / SqDistLD == HOF squared-L2 folds on all embeddings") {
    import org.apache.spark.sql.types.DoubleType
    val e = Tables.embeddings(spark, sf)
    // float-float: the ANN-PQ sub-space distance (here over the full
    // vector against a shifted copy)
    val shifted = reverse($"embedding")
    val badFF = e.select(
      graft.plans.VecExprs.sqDistFFCol($"embedding", shifted).as("native"),
      aggregate(zip_with($"embedding", shifted, (x, y) => {
        val d = x.cast(DoubleType) - y.cast(DoubleType); d * d
      }), lit(0.0d), _ + _).as("hof"))
      .filter($"native" =!= $"hof")
    assert(badFF.isEmpty)
    // long-double: the k-means assignment distance
    val qv = transform($"embedding", x => round(x.cast(DoubleType) * 1e6d).cast("long"))
    val cv = transform(reverse($"embedding"), x => x.cast(DoubleType))
    val badLD = e.select(
      graft.plans.VecExprs.sqDistLDCol(qv, cv).as("native"),
      aggregate(zip_with(qv, cv, (x, y) => {
        val d = x.cast(DoubleType) - y; d * d
      }), lit(0.0d), _ + _).as("hof"))
      .filter($"native" =!= $"hof")
    assert(badLD.isEmpty)
  }

  test("SimHash64 == HOF simhash on all documents") {
    val bad = Tables.documents(spark, sf)
      .select(HashFns.simHash(TextFns.tokens($"text")).as("native"),
        HashFns.simHashHof(TextFns.tokens($"text")).as("hof"))
      .filter($"native" =!= $"hof")
    assert(bad.isEmpty)
  }

  test("ShingleSet / CharNGramSet == composed definitions (as sets)") {
    val d = Tables.documents(spark, sf)
    val badSh = d.select(
      array_sort(TextFns.shingleSet($"text", 3)).as("native"),
      array_sort(array_distinct(TextFns.tokenShingles($"text", 3))).as("hof"))
      .filter(to_json($"native") =!= to_json($"hof"))
    assert(badSh.isEmpty)
    val badNg = d.select(
      array_sort(TextFns.charNGrams($"text", 4)).as("native"),
      array_sort(TextFns.charNGramsHof($"text", 4)).as("hof"))
      .filter(to_json($"native") =!= to_json($"hof"))
    assert(badNg.isEmpty)
  }

  test("LshSig == HOF signature on all embeddings") {
    val bad = Tables.embeddings(spark, sf)
      .select(VecFns.lshSignature($"embedding", 4).as("native"),
        VecFns.lshSignatureHof($"embedding", 4).as("hof"))
      .filter($"native" =!= $"hof")
    assert(bad.isEmpty)
  }

  test("DotProductF == HOF fold dot (bit-exact) on embedding pairs") {
    val e = Tables.embeddings(spark, sf).limit(50)
    val pairs = e.as("a").crossJoin(e.as("b"))
    val bad = pairs.select(
      VecFns.dot($"a.embedding", $"b.embedding").as("native"),
      VecFns.dotHof($"a.embedding", $"b.embedding").as("hof"))
      .filter($"native" =!= $"hof")   // exact double equality intended
    assert(bad.isEmpty)
  }

  test("SigAgreeCount == HOF zip_with agreement on minhash signatures") {
    val mh = Tables.documents(spark, sf)
      .select($"doc_id", HashFns.minHashesNative(TextFns.shingleSet($"text", 3)).as("mh"))
    val pairs = mh.as("a").join(mh.as("b"),
      ($"a.doc_id" % 10) === ($"b.doc_id" % 10) && $"a.doc_id" < $"b.doc_id")
    val bad = pairs.select(
      HashFns.sigAgree($"a.mh", $"b.mh").as("native"),
      HashFns.sigAgreeHof($"a.mh", $"b.mh").as("hof"))
      .filter($"native" =!= $"hof")
    assert(bad.isEmpty)
  }

  test("WinnowMins == HOF winnow pipeline on all documents + edges") {
    val (k, w) = (8, 4)
    // the HOF shape WinnowMins replaced (TextAnalysis.winnowArrays
    // pre-native): positional k-gram polyhash → windowed array_min
    def hofMins(lc: org.apache.spark.sql.Column) = {
      val n = length(lc)
      val empty = array().cast("array<bigint>")
      val hs = when(n >= k,
        transform(sequence(lit(1), n - (k - 1)),
          i => HashFns.polyHash(lc.substr(i, lit(k))))).otherwise(empty)
      (when(size(hs) >= w,
        transform(sequence(lit(1), size(hs) - (w - 1)),
          j => array_min(slice(hs, j, lit(w)))))
        .when(size(hs) > 0, array(array_min(hs)))
        .otherwise(empty), hs)
    }
    val edges = Seq(
      "", "short", "exactly8", "nine char", "abcdefghij1234",
      "aaaaaaaaaaaaaaaaaaaa",                   // all-tied window minima
      "café naïve 你好世界 text with repeats text with repeats",
      "emoji 😀😀 pair spans a surrogate 🍺 boundary here")
      .toDF("text")
    for (df <- Seq(Tables.documents(spark, sf).select($"text"), edges)) {
      val lc = lower($"text")
      val (hof, _) = hofMins(lc)
      val bad = df.select(
          graft.plans.TextExprs.winnowMinsCol(lc, k, w).as("native"),
          graft.plans.TextExprs.winnowMinsCol(lc, k, w, distinct = true).as("native_d"),
          hof.as("hof"))
        .filter(to_json($"native") =!= to_json($"hof") ||
          to_json($"native_d") =!= to_json(array_distinct($"hof")))
      assert(bad.isEmpty)
    }
  }

  test("SlidingShingles / TokenChunks == composed slice spellings (ordered)") {
    val w = 8
    val cw = 10
    val edges = Seq(
      "", "one", "two words", "exactly eight tokens in this here gram x",
      "a b c d e f g h i j k l m n o p q r s t u v",
      "CAFÉ naïve 你好 世界 mixed  case　tokens with füll width spaces",
      "emoji 😀 a b c d e f g h i j")
      .toDF("text")
    for (df <- Seq(Tables.documents(spark, sf).select($"text"), edges)) {
      val toks = TextFns.tokens($"text")
      val hofSh = when(size(toks) >= w,
        transform(sequence(lit(0), size(toks) - w),
          i => array_join(slice(toks, i + 1, lit(w)), " ")))
        .otherwise(array(array_join(toks, " ")))
      val nChunks = ceil(size(toks) / lit(cw.toDouble)).cast("int")
      val hofCh = transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(toks, i * cw + 1, lit(cw)), " "))
      val bad = df.select(
          graft.plans.TextExprs.slidingShinglesCol($"text", w).as("nsh"),
          hofSh.as("hsh"),
          graft.plans.TextExprs.tokenChunksCol($"text", cw).as("nch"),
          hofCh.as("hch"))
        .filter(to_json($"nsh") =!= to_json($"hsh") ||
          to_json($"nch") =!= to_json($"hch"))
      assert(bad.isEmpty)
    }
  }

  test("RepGramStats == composed gram multiset top-count on all documents + edges") {
    val edges = Seq(
      "", "abc", "abcd", "aaaaaaa", "xyxyxyxyxy",
      "CAFÉ naïve 你好世界 repeats 你好世界 repeats",
      "emoji 😀😀😀😀 run and 😀a😀a mixed surrogate grams")
      .toDF("text")
    for (df <- Seq(Tables.documents(spark, sf).select($"text"), edges)) {
      val lc = lower($"text")
      val gramsAll = when(length(lc) >= 4,
        transform(sequence(lit(1), length(lc) - 3), i => lc.substr(i, lit(4))))
        .otherwise(array(lc))
      val zero = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("mx"))
      val hofTop = aggregate(sort_array(gramsAll), zero, (a, g) => {
        val run = when(g === a.getField("prev"), a.getField("run") + 1L).otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"), greatest(a.getField("mx"), run).as("mx"))
      }).getField("mx")
      val st = graft.plans.TextExprs.repGramStatsCol(lc, 4)
      val bad = df.select(
          coalesce(element_at(st, 1), lit(1L)).as("n_native"),
          coalesce(element_at(st, 2), lit(1L)).as("top_native"),
          size(gramsAll).cast("long").as("n_hof"),
          hofTop.as("top_hof"))
        .filter($"n_native" =!= $"n_hof" || $"top_native" =!= $"top_hof")
      assert(bad.isEmpty)
    }
  }

  test("RepGramStats rejects a gram length other than 4 when built") {
    val e = intercept[IllegalArgumentException](
      graft.plans.TextExprs.repGramStatsCol(lower($"text"), 3))
    assert(e.getMessage.contains("n = 3"))
  }
}

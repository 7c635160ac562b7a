package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic `factor`× replication of an SF directory: the big tables
  * are unioned from re-keyed copies, so a replica keeps the relational
  * and near-duplicate structure of its base at `factor` times the volume.
  * `ScaleReplaySpec` checks that the replica preserves what it claims.
  *
  * Replication choices, so a replica scales its base's work and not an
  * artifact of the copying itself:
  *
  *  - Join keys are offset per copy (`key + i · (max+1)`) CONSISTENTLY
  *    across tables (l_orderkey/o_orderkey, o_custkey/c_custkey,
  *    l_partkey/p_partkey), so every join's selectivity per key is
  *    unchanged and fact/dimension relations stay intact. Dimension
  *    tables bounded by the schema (nation, region) are NOT replicated —
  *    the dims don't grow with the fact either.
  *  - Document text is re-tokenized per copy (every token prefixed with
  *    `c<i>_`): token counts, per-doc shingle counts, and the WITHIN-copy
  *    near-duplicate structure are exactly isomorphic to the original,
  *    while ACROSS copies no shingle collides — the corpus becomes
  *    `factor` independent shards with the original's duplicate rate, so
  *    pair-producing dedup work scales ×factor. (Naively unioning
  *    IDENTICAL copies would instead explode every fingerprint group
  *    quadratically.)
  *  - Embeddings are re-keyed and each copy i>0 is rotated by a random
  *    orthogonal matrix ([[orthogonal]]): within-copy cosine structure is
  *    exactly the original's, cross-copy cosines concentrate at
  *    ~N(0, 1/dim). The pinned query set (`vec_id < 5`) lives in the
  *    unrotated copy 0 and stays constant size. At dim 64 a cross-copy
  *    cosine is ~N(0, 1/64), so the replica cannot guarantee shard
  *    isolation for pair-producing embedding work the way the `c<i>_`
  *    token tag does for shingles.
  *
  * [[replicate]] writes the tables once (skipped when `_READY` exists; the
  * marker records which tables the replica holds); the optional `only`
  * set restricts the replica to the named tables.
  */
object ScaleReplay {

  /** Tables replicated with key offsets; everything else copies as-is.
    * `only` restricts the build to the named tables (default: all), so a
    * documents-only replica need not write a 600 M-row lineitem; the
    * `_READY` marker records which tables the replica holds so a narrower
    * replica can't silently serve a broader request. */
  private[graft] val allTables = Seq("lineitem", "orders", "customer",
    "part", "documents", "embeddings", "nation", "region", "supplier",
    "events")

  private[graft] def replicate(spark: SparkSession, base: String, out: String,
      factor: Int, only: Option[Set[String]] = None): Unit = {
    import java.nio.file.{Files, Paths}
    import java.nio.charset.StandardCharsets.UTF_8
    val wanted = only.getOrElse(allTables.toSet)
    val unknown = wanted -- allTables.toSet
    require(unknown.isEmpty, s"unknown tables requested: $unknown")
    val ready = Paths.get(out, "_READY")
    if (Files.exists(ready)) {
      // an empty marker predates the table filter and means "full"
      val recorded = new String(Files.readAllBytes(ready), UTF_8)
        .split(',').map(_.trim).filter(_.nonEmpty).toSet
      val have = if (recorded.isEmpty) allTables.toSet else recorded
      require(wanted.subsetOf(have),
        s"replica at $out holds only $have; requested $wanted — " +
          "point at a fresh outDir to build the missing tables")
      System.err.println(s"[replay] reusing $out")
      return
    }
    val (baseAbs, outAbs) = (Paths.get(base).toAbsolutePath.normalize,
      Paths.get(out).toAbsolutePath.normalize)
    require(!outAbs.startsWith(baseAbs) && !baseAbs.startsWith(outAbs) &&
      !outAbs.startsWith(Paths.get("/root/testdata")),
      s"refusing to write replicated corpus into/around the input tree: $out")
    Files.createDirectories(Paths.get(out))

    def read(t: String): DataFrame = spark.read.parquet(s"$base/$t.parquet")
    def off(df: DataFrame, keyCol: String): Long =
      df.agg(max(col(keyCol))).head.getLong(0) + 1
    def write(t: String, df: DataFrame): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
      System.err.println(s"[replay] wrote $t")
    }
    // The copy axis is a crossJoin against range(factor), NOT a
    // factor-way unionByName reduce: the union builds a depth-`factor`
    // plan tree that Catalyst re-analyzes level by level — at the 1000×
    // rung the PLAN, not the data, becomes the bottleneck. The crossJoin
    // form is one fixed-size plan for any factor, with the copy index as
    // a column feeding the same rekey arithmetic.
    // Orientation (ADVICE r11): the BASE streams and the tiny
    // range(factor) broadcasts — the earlier form broadcast the base,
    // which dies on Spark's broadcast limits for a row-heavy base
    // (lineitem at sf1+ is past 512 M rows × factor sooner than you
    // think). The explicit repartition of the base is what carries the
    // write parallelism: left alone, the crossJoin inherits the base's
    // input partitioning — one ~11 MB parquet = ONE task writing the
    // whole 1000× expansion.
    def fanout(df: DataFrame): DataFrame =
      df.repartition(32)
        .crossJoin(broadcast(spark.range(factor).toDF("copy_i")))

    lazy val oOff = off(read("orders"), "o_orderkey")
    lazy val cOff = off(read("customer"), "c_custkey")
    lazy val pOff = off(read("part"), "p_partkey")
    if (wanted("lineitem")) write("lineitem", fanout(read("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + col("copy_i") * oOff)
      .withColumn("l_partkey", col("l_partkey") + col("copy_i") * pOff)
      .drop("copy_i"))
    if (wanted("orders")) write("orders", fanout(read("orders"))
      .withColumn("o_orderkey", col("o_orderkey") + col("copy_i") * oOff)
      .withColumn("o_custkey", col("o_custkey") + col("copy_i") * cOff)
      .drop("copy_i"))
    if (wanted("customer")) write("customer", fanout(read("customer"))
      .withColumn("c_custkey", col("c_custkey") + col("copy_i") * cOff)
      .drop("copy_i"))
    if (wanted("part")) write("part", fanout(read("part"))
      .withColumn("p_partkey", col("p_partkey") + col("copy_i") * pOff)
      .drop("copy_i"))

    // delimited copy tag: a bare `c$i` prefix is ambiguous once factor
    // reaches 11 (copy 1 of token "1abc" = copy 11 of token "abc"),
    // which would let cross-copy shingles collide and break the
    // shard-disjointness the scale factors rely on
    if (wanted("documents")) {
      val dOff = off(read("documents"), "doc_id")
      write("documents", fanout(read("documents"))
        .withColumn("doc_id", col("doc_id") + col("copy_i") * dOff)
        .withColumn("text", regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("c"), col("copy_i"), lit("_$1"))))
        .drop("copy_i"))
    }

    // Embeddings: each copy i>0 is ROTATED by a deterministic random
    // orthogonal matrix Q_i. Cosine is rotation-invariant, so the
    // WITHIN-copy similarity structure (near-dup pairs, kNN graphs,
    // centroids) is exactly the original's; ACROSS copies a random
    // rotation decorrelates vectors (cross-copy cosine concentrates at
    // ~N(0, 1/dim)), so pair-producing embedding ops scale ×factor
    // instead of quadratically exploding on 30 exact copies of every
    // vector — the embedding-space analog of the c<i>_ token tag. The
    // pinned query set (vec_id < 5) lives in the unrotated copy 0, so
    // per-query work stays comparable to the base run.
    if (wanted("embeddings")) {
      val emb = read("embeddings")
      val vOff = off(emb, "vec_id")
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      // Rotations ride the same fixed-size crossJoin plan as every
      // other table (the per-copy unionByName form was a depth-`factor`
      // plan carrying one dim×dim literal PER COPY — at the 1000× rung
      // that is 4 M literal doubles and a plan Catalyst chokes on long
      // before the data). The copy picks its matrix from a literal BANK
      // of min(factor, 32) distinct orthogonal matrices by copy_i mod
      // 32, with matrix 0 the IDENTITY so copy 0 — where the pinned
      // query set (vec_id < 5) lives — is bit-unchanged (float→double→
      // ×1.0→float is exact). Copies sharing a matrix (i ≡ j mod 32 at
      // factor > 32) are exact duplicates of each other modulo vec_id;
      // that is sound for work against a FIXED copy-0 query set (ANN
      // build, probe, serve), whose candidate volume scales ×factor
      // identically whether cross-copy mass is decorrelated or
      // duplicated. Pair-producing embedding work is not isolated by
      // shard for exactly this class of reason (see the object doc).
      val nRot = math.max(1, math.min(factor, 32))
      val bank = typedlit((0 until nRot).map { i =>
        if (i == 0) Seq.tabulate(dim, dim)((r, c) => if (r == c) 1.0d else 0.0d)
        else orthogonal(dim, seed = 0xC0FFEE + i).map(_.toSeq).toSeq
      })
      write("embeddings", fanout(emb)
        .withColumn("vec_id", col("vec_id") + col("copy_i") * vOff)
        .withColumn("embedding",
          transform(sequence(lit(1), lit(dim)), j =>
            aggregate(sequence(lit(1), lit(dim)), lit(0.0d), (acc, d) =>
              acc + element_at(element_at(element_at(bank,
                  (pmod(col("copy_i"), lit(nRot)) + 1).cast("int")), j), d) *
                element_at(col("embedding"), d).cast("double"))
              .cast("float")))
        .drop("copy_i"))
    }

    Seq("nation", "region", "supplier", "events").filter(wanted).foreach(t =>
      write(t, read(t)))
    Files.write(ready, wanted.toSeq.sorted.mkString(",").getBytes(UTF_8))
  }

  /** Deterministic random orthogonal dim×dim matrix: Gram-Schmidt over a
    * seeded Gaussian matrix (full rank with probability 1; the loop
    * re-draws a column in the measure-zero degenerate case). Driver-side,
    * O(dim³) once per copy — microseconds at embedding dims. */
  private[graft] def orthogonal(dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val q = Array.ofDim[Double](dim, dim)
    var j = 0
    while (j < dim) {
      val v = Array.fill(dim)(rnd.nextGaussian())
      var k = 0
      while (k < j) {
        var dot = 0.0
        var d = 0
        while (d < dim) { dot += v(d) * q(k)(d); d += 1 }
        d = 0
        while (d < dim) { v(d) -= dot * q(k)(d); d += 1 }
        k += 1
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n > 1e-9) { // re-draw on degeneracy instead of dividing by ~0
        var d = 0
        while (d < dim) { q(j)(d) = v(d) / n; d += 1 }
        j += 1
      }
    }
    q
  }
}

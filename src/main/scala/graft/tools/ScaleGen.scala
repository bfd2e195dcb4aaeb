package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-lane data generator: blows the driver's sf0.1 testdata up by an
  * integer factor so the bench can measure how query time GROWS with data
  * size (the empirical "would it survive 100×?" check from VERDICT r7
  * task 4). This is a BENCH-ONLY derivation of the driver's own parquet —
  * correctness still runs exclusively on `/root/testdata` — and it never
  * writes outside the repo.
  *
  * Replication scheme (copy i of K):
  *  - fact keys shift by `i * (max_key + 1)` so each copy is a disjoint
  *    key range; FK columns shift by the SAME stride as their parent PK,
  *    preserving join selectivity and fan-out exactly (a join that hit
  *    4 rows per key at sf0.1 still hits 4 at sf1);
  *  - `nation`/`region` stay as-is (dimension semantics — broadcast side
  *    stays broadcast-sized at any sf, as it would at 100 TB);
  *  - `documents.text` gets a copy-salt SUFFIX on every 3rd whitespace
  *    token (r9; was an inserted token on every space, which doubled the
  *    token count and tripled char length — ADVICE r8): suffixing keeps
  *    the per-copy token count IDENTICAL to the original and char length
  *    within ~5%, while still guaranteeing every 3-token shingle (the
  *    n=3 the dedup family uses) contains a copy-specific token — so
  *    cross-copy shingle overlap is exactly zero and each copy behaves
  *    like an independent sf0.1 corpus: shingle/MinHash workload is
  *    linear in K, with no artificial K-sized dup clusters. `n_chars` is
  *    recomputed as `length(text)` on salted copies so length-derived
  *    stats stay consistent with the stored column. KNOWN LIMIT: the
  *    salt is token-level, so CHAR-level k-gram fingerprints (winnowing,
  *    k=8) between two salt sites are still shared across copies — a
  *    replicated corpus genuinely contains K-fold verbatim passages, and
  *    no cheap salting can remove them without destroying the text.
  *    Consequence (measured, r9): `winnow_near_dup`'s candidate stage
  *    grows ~K² on this data (Σ df² with every df multiplied by K) while
  *    its OUTPUT grows linearly (260 → 2563 pairs at K=10) — a
  *    data-construction artifact of replication, not an engine defect;
  *    the growth table calls it out;
  *  - `events` keeps the time range and shifts `user_id`/`event_id`:
  *    volume grows K× over the same period (more users, same window) —
  *    the realistic shape for sessionization/watermark work;
  *  - `embeddings` shifts `vec_id` and ROTATES each copy's vector by the
  *    copy index (r9; identical vectors across copies landed every copy
  *    of a vector in the same LSH bucket, growing bucket self-join
  *    candidates ~K² and putting a cos=1.0 cross-copy pair at the top of
  *    every top-k list — ADVICE r8): rotation preserves the norm exactly
  *    and decorrelates a copy from its original (cosine ≈ the inner
  *    product of a vector with a shifted version of itself, far below
  *    any near-dup threshold), so threshold-pair workloads stay linear
  *    in K. Note the brute-force top-k workload is |Q|×N by definition
  *    and |Q| (`vec_id % 97`) grows K-fold with the corpus — quadratic
  *    growth THERE is the workload's shape, not an engine artifact; the
  *    growth table calls this out rather than normalizing it away.
  */
object ScaleGen {
  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  /** K disjoint copies of `df` (copy i of K): keyed columns shift by
    * `i * stride`, text salts token-preservingly, vectors rotate. Public
    * within the package so the salting/rotation invariants the scale
    * lane depends on are pinned by unit tests, not only by inspection
    * of generated data. */
  private[graft] def replicateK(
      df: DataFrame, k: Int, shifts: Map[String, Long],
      saltText: Option[String] = None,
      rotateVec: Option[String] = None,
      saltMode: String = "token"): DataFrame = {
    require(saltMode == "token" || saltMode == "char",
      s"saltMode must be token|char, got $saltMode")
    // vector dimension, read ONCE (a generator-time metadata scan) —
    // the wrap-permutation arithmetic above needs it as a constant
    lazy val rotDim: Int = rotateVec.map { vc =>
      // on an empty input the max aggregate yields a NULL cell — fold
      // that into the require instead of an NPE from getInt (ADVICE r14)
      val cell = df.agg(max(size(col(vc)))).head()
      val d = if (cell.isNullAt(0)) 0 else cell.getInt(0)
      require(d > 0, s"replicateK: empty vector column $vc")
      d
    }.getOrElse(0)
    val copies = (0 until k).map { i =>
        val shifted = shifts.foldLeft(df) { case (d, (c, s)) =>
          d.withColumn(c, col(c) + lit(i.toLong * s)) }
        val salted = saltText.fold(shifted) { tc =>
          // token mode: suffix every 3rd whitespace token with a copy
          // marker — token count unchanged, every 3-shingle carries the
          // marker, so cross-copy shingle overlap is zero (copy 0 keeps
          // the original text so sf0.1-verified answers remain a
          // subset); n_chars tracks the ~+1 char/3 tokens the suffix
          // adds. KNOWN LIMIT: char-level k-grams between two salt sites
          // stay shared across copies, so char-gram operators (winnowing,
          // k=8) see every fingerprint's doc-frequency multiplied by K —
          // the measured ~K² candidate artifact of VERDICT r9.
          //
          // char mode (r10, VERDICT r9 task 2): insert a COPY-SPECIFIC
          // character after every 7th character — every 8-char window of
          // a salted copy contains a salt char, so NO char-level 8-gram
          // is shared across copies (nor with the unsalted copy 0: the
          // salt chars are UPPERCASE letters the lowercase-only
          // generator text never emits — and deliberately single-byte
          // ASCII: a multibyte salt forces UTF8String substring onto
          // the codepoint-walking path and the k-gram pass goes
          // quadratic per document, measured +60% on the winnow lane).
          // This is the content-varying replication char-gram operators
          // need the lane to measure; it does NOT preserve token counts
          // or char length (~+14%), so token-exact rows keep using
          // token mode.
          if (i == 0) shifted
          else if (saltMode == "char") {
            // one salt char per copy: beyond 27 copies (i-1 > 25) the
            // 26-letter alphabet would wrap and copies i and i+26 would
            // share a salt, silently reintroducing the cross-copy 8-gram
            // sharing (and the K² candidate artifact) this mode exists
            // to eliminate (ADVICE r10)
            require(i - 1 < 26,
              s"char salt mode supports at most 27 copies (k<=27), got copy $i")
            shifted
              .withColumn(tc,
                // (?s): text contains newlines; '.' must cross them or
                // newline-adjacent runs would keep unsalted 8-grams
                regexp_replace(col(tc), "(?s)(.{7})",
                  "$1" + ('A' + (i - 1)).toChar))
              .withColumn("n_chars", length(col(tc)))
          } else shifted
            .withColumn(tc,
              // \s+, not a literal space: a tab/newline/double-space
              // would otherwise leave unsalted 3-token runs whose
              // shingles collide across copies — the exact K² artifact
              // the salt exists to prevent
              regexp_replace(col(tc), "((\\S+\\s+){2}\\S+)", "$1c" + i))
            .withColumn("n_chars", length(col(tc)))
        }
        rotateVec.fold(salted) { vc =>
          // rotate copy i's vector left by (i mod dim) positions —
          // norm-preserving, decorrelates the copy from its original so
          // LSH buckets and near-dup pairs don't collapse all K copies
          // onto one key. The rotation group has only `dim` elements, so
          // at K > dim (the r14 sf10 lane: K=100 over dim=64) copies i
          // and i+dim would get the SAME rotation and land cos=1.0
          // duplicates in every near-dup/ANN workload; each wrap
          // generation w = i/dim therefore composes a stride-s_w index
          // permutation (s_w = the w-th odd residue coprime to dim, so
          // strides are pairwise-distinct and each map j -> j*s_w mod dim
          // is bijective) before rotating. The composed map is the affine
          // permutation j -> s_w*(j+r) mod dim, and distinct (r, w) give
          // distinct affine maps (s invertible) — so every copy i < K
          // carries a DISTINCT norm-preserving coordinate permutation.
          // Capacity: dim * |coprime odd residues| copies (dim=64 -> 2048).
          if (i == 0) salted
          else {
            val dim = rotDim
            val r = i % dim
            val w = i / dim
            val strides = (1 until 2 * dim by 2)
              .filter(o => BigInt(o).gcd(BigInt(dim)) == 1)
              .map(_ % dim).distinct
            require(w < strides.size,
              s"replicateK: k=$k exceeds ${strides.size * dim} distinct " +
                s"vector permutations at dim=$dim")
            val strideP = strides(w)
            val permuted =
              if (strideP == 1) col(vc)
              else expr(s"transform(sequence(0, ${dim - 1}), " +
                s"j -> element_at($vc, CAST((j * $strideP) % $dim AS INT) + 1))")
            val rotated =
              if (r == 0) permuted
              else concat(
                slice(permuted, lit(r + 1), lit(dim - r)),
                slice(permuted, lit(1), lit(r)))
            salted.withColumn(vc, rotated)
          }
        }
      }
    copies.reduce(_ unionAll _)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "target/sf1")
    val k = sys.env.get("SPARK_GRAFT_SCALE_K")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ > 1).getOrElse(10)
    // SPARK_GRAFT_SCALE_SALT=char: content-varying replication (salts
    // every 7th CHARACTER, killing cross-copy char-k-gram sharing) for
    // re-measuring char-gram operators without the replication artifact
    val saltMode = sys.env.getOrElse("SPARK_GRAFT_SCALE_SALT", "token")
    // SPARK_GRAFT_SCALE_TABLES=documents,events: write only a subset —
    // a charsalt documents-only lane dir need not duplicate lineitem
    val tableFilter = sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).toSet)
    def want(name: String): Boolean = tableFilter.forall(_.contains(name))
    val spark = graft.Sessions.local(graft.Sessions.cpus)

    def read(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")

    def replicate(df: DataFrame, shifts: Map[String, Long],
                  saltText: Option[String] = None,
                  rotateVec: Option[String] = None): DataFrame =
      replicateK(df, k, shifts, saltText, rotateVec, saltMode)

    def write(df: DataFrame, name: String, parts: Int = 0): Unit = {
      // small-files guard (found by ParquetLayout on this generator's own
      // r9 output: nation/region as 12 files of ~140 bytes): dimension
      // passthroughs coalesce to one file, facts spread over the cores
      val shaped =
        if (parts == 1) df.coalesce(1)
        else df.repartition(spark.sparkContext.defaultParallelism)
      shaped.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"wrote $name x$k")
    }

    if (want("lineitem") || want("orders") || want("customer") ||
      want("part") || want("supplier")) {
      val orders = read("orders"); val customer = read("customer")
      val part = read("part"); val supplier = read("supplier")
      val sOrder = stride(orders, "o_orderkey")
      val sCust = stride(customer, "c_custkey")
      val sPart = stride(part, "p_partkey")
      val sSupp = stride(supplier, "s_suppkey")
      if (want("lineitem"))
        write(replicate(read("lineitem"), Map(
          "l_orderkey" -> sOrder, "l_partkey" -> sPart,
          "l_suppkey" -> sSupp)), "lineitem")
      if (want("orders"))
        write(replicate(orders, Map(
          "o_orderkey" -> sOrder, "o_custkey" -> sCust)), "orders")
      if (want("customer"))
        write(replicate(customer, Map("c_custkey" -> sCust)), "customer")
      if (want("part"))
        write(replicate(part, Map("p_partkey" -> sPart)), "part")
      if (want("supplier"))
        write(replicate(supplier, Map("s_suppkey" -> sSupp)), "supplier")
    }
    if (want("documents")) {
      val documents = read("documents")
      write(replicate(documents,
        Map("doc_id" -> stride(documents, "doc_id")),
        saltText = Some("text")), "documents")
    }
    if (want("embeddings")) {
      val embeddings = read("embeddings")
      write(replicate(embeddings,
        Map("vec_id" -> stride(embeddings, "vec_id")),
        rotateVec = Some("embedding")), "embeddings")
    }
    if (want("events")) {
      val events = read("events")
      write(replicate(events, Map(
        "event_id" -> stride(events, "event_id"),
        "user_id" -> stride(events, "user_id"))), "events")
    }
    // dimension tables pass through unchanged (single file each)
    Seq("nation", "region").filter(want)
      .foreach(n => write(read(n), n, parts = 1))
    spark.stop()
  }
}

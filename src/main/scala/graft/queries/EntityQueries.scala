package graft.queries

import graft.{DeclaredQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entity-resolution queries (SURVEY §2.13 X75) — the record-linkage
  * primitive a catalog/ingest pipeline runs to find near-duplicate
  * entity names (vendor aliases, typo'd product titles) before keying
  * on them. The reference has no string-similarity join; this is the
  * standard blocked-ER shape (Fellegi–Sunter style blocking, unit-cost
  * Levenshtein match scoring).
  *
  * Scale posture: similarity joins are quadratic only if you let them
  * be. The shape here is (1) DISTINCT the name vocabulary first — at
  * 100 TB the distinct is one shuffle and the vocabulary is orders of
  * magnitude smaller than the rows (20k parts → 64 names at sf0.1);
  * (2) equi-join on a blocking key so candidate pairs form only inside
  * a block (never a cartesian across the vocabulary); (3) score pairs
  * with codegen `levenshtein` — integer edit distance, exact in both
  * engines. Recall beyond one blocking key is a second pass with
  * another key (standard multi-pass blocking), not a wider join.
  */
object EntityQueries {

  // ---------------------------------------------------------------- Q111
  /** X75: fuzzy entity match over the part-name vocabulary — distinct
    * names, blocked by their last token (the product noun), pairs
    * within a block scored by Levenshtein edit distance, kept at
    * distance ≤ 3. Output is the canonical (name_a < name_b) match
    * list with its integer distance — the input a merge/survivorship
    * step consumes.
    *
    * Plan: distinct (one shuffle, map-side partial) → tiny block-key
    * self-join (Spark picks broadcast for a vocabulary-sized frame;
    * at a 100 TB vocabulary it degrades to a sort-merge on the block
    * key, still never all-pairs) → codegen `levenshtein` filter. The
    * `name_a < name_b` canonicalization is in the join condition, so
    * each unordered pair is formed once, not twice-then-distinct.
    */
  val q111 = DeclaredQuery(
    "q111_fuzzy_match",
    Some("""WITH v AS (SELECT DISTINCT p_name FROM part),
           |b AS (SELECT p_name, split_part(p_name, ' ', 2) AS blk FROM v)
           |SELECT a.p_name AS name_a, c.p_name AS name_b,
           |       levenshtein(a.p_name, c.p_name) AS dist
           |FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
           |WHERE levenshtein(a.p_name, c.p_name) <= 3
           |ORDER BY 1, 2""".stripMargin)) { (s, d) =>
    val vocab = Tables.part(s, d).select(col("p_name")).distinct()
    // blocking key = last token; part names are "<adjective> <noun>", and
    // element_at(-1) keeps the key total even if a name ever grows tokens
    val blocked = vocab.withColumn("blk", element_at(split(col("p_name"), " "), -1))
    val a = blocked.select(col("p_name").as("name_a"), col("blk"))
    val c = blocked.select(col("p_name").as("name_b"), col("blk").as("blk_c"))
    a.join(c, col("blk") === col("blk_c") && col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 3)
      .select("name_a", "name_b", "dist")
      .orderBy("name_a", "name_b")
  }

  // ---------------------------------------------------------------- Q125
  /** X89: entity clusters — the full record-linkage pipeline composed:
    * block (q111's last-token key) → match (Levenshtein ≤ 2) → CLUSTER
    * (connected components over the match edges — transitive: if A≈B
    * and B≈C, all three are one entity even when A and C differ by 4) →
    * survivorship (canonical = min name, the q39 min-label rule).
    * Reports each entity with its alias count and how many catalog rows
    * resolve to it — the dedup mapping a master-data pass materializes.
    *
    * Plan: reuses [[graft.operators.ConnectedComponents.minLabel]] (the
    * q39/q57/q60 engine — one Spark job per round, diameter-bound) over
    * the vocabulary-sized edge set, then ONE broadcast join back onto
    * the rows. The oracle proves the same semantics with a recursive
    * reachability CTE, exactly the q39 oracle pattern.
    */
  val q125 = DeclaredQuery(
    "q125_entity_clusters",
    Some("""WITH RECURSIVE v AS (SELECT DISTINCT p_name FROM part),
           |b AS (SELECT p_name, split_part(p_name, ' ', 2) AS blk FROM v),
           |e AS (SELECT a.p_name AS x, c.p_name AS y
           |      FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
           |      WHERE levenshtein(a.p_name, c.p_name) <= 2),
           |sym AS (SELECT x, y FROM e UNION ALL SELECT y, x FROM e),
           |r(name, seen) AS (
           |  SELECT p_name, p_name FROM v
           |  UNION
           |  SELECT sym.y, r.seen FROM r JOIN sym ON sym.x = r.name),
           |lab AS (SELECT name, MIN(seen) AS entity FROM r GROUP BY name),
           |sized AS (SELECT entity, COUNT(*) AS n_aliases FROM lab GROUP BY 1)
           |SELECT s.entity AS canonical, s.n_aliases,
           |       (SELECT COUNT(*) FROM part p JOIN lab ON p.p_name = lab.name
           |        WHERE lab.entity = s.entity) AS n_rows
           |FROM sized s ORDER BY 1""".stripMargin)) { (s, d) =>
    import s.implicits._
    // r19 (guide §1.2 "the distributed algorithm"): the name VOCABULARY is
    // orders of magnitude below row count on any real catalog (the premise
    // this whole blocked-ER family states above) and generator-pinned at
    // adjectives × nouns = 64 names at every sf. The r18 plan ran the
    // generic CC flood over this ≤64-vertex graph: 50 Spark jobs / 1052
    // tasks of pure scheduling floor (driver cell 3.9 s, 8 cores BEAT 32 —
    // scaling ratio 0.52). Blocking + Levenshtein + min-label union-find
    // over a require()-bounded vocabulary is driver-side work by design —
    // the q115 brand-bitmask posture (vocabulary-sized, require()d) — and
    // collapses the whole cluster step to one distinct-collect. The
    // distributed flood (operators/ConnectedComponents) remains the path
    // for corpora whose ID space is NOT vocabulary-bounded (q39/q57/q60);
    // a catalog that outgrows the bound fails loudly here rather than
    // silently melting the driver. Worst case inside the bound is ~8.4M
    // in-memory edit distances over short names — bounded CPU, no state.
    val names = partNames(Tables.part(s, d))
    // blocking key = last token (same key the r17/r18 plans used; ≡ the
    // oracle's split_part(p_name, ' ', 2) on the two-token names
    // partNames asserts)
    def lev(a: String, b: String): Int = {
      // unit-cost edit distance over UTF-16 code units — equal to Spark's
      // levenshtein() and DuckDB's on this BMP-only (ASCII) vocabulary
      val n = a.length; val m = b.length
      var prev = Array.tabulate(m + 1)(identity)
      var cur = new Array[Int](m + 1)
      var i = 1
      while (i <= n) {
        cur(0) = i
        var j = 1
        while (j <= m) {
          val sub = prev(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
          j += 1
        }
        val t = prev; prev = cur; cur = t
        i += 1
      }
      prev(m)
    }
    // min-label union-find: find(x) after full unioning returns the
    // component representative; labels are then the component MIN name —
    // exactly minLabel's fixpoint (and the oracle's MIN(seen) closure)
    val idx = names.sorted
    val pos = idx.zipWithIndex.toMap
    val parent = Array.tabulate(idx.length)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r)
      var c = x; while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }; r }
    idx.groupBy(_.split(" ").last).values.foreach { block =>
      for (i <- block.indices; j <- (i + 1) until block.length)
        if (lev(block(i), block(j)) <= 2) {
          val (ra, rb) = (find(pos(block(i))), find(pos(block(j))))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
    }
    // idx is sorted, so a root IS its component's min name
    val labArr = idx.indices.map(i => (idx(i), idx(find(i))))
    val lab = labArr.toDF("p_name", "entity")
    val aliasDf = labArr.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
      .toDF("entity", "n_aliases")
    val rowCounts = Tables.part(s, d).select(col("p_name"))
      .join(broadcast(lab), "p_name")
      .groupBy("entity").agg(count(lit(1)).as("n_rows"))
    aliasDf.join(broadcast(rowCounts), "entity")
      .select(col("entity").as("canonical"), col("n_aliases"), col("n_rows"))
      .orderBy("canonical")
  }

  private val TwoTokens = "\\S+ \\S+".r

  /** q125's distinct `p_name` vocabulary, ≤ 4096 names for the driver-side
    * clustering. The blocking key (last token) equals the oracle's
    * `split_part(p_name, ' ', 2)` only on two-token names, so any other
    * shape fails here rather than silently mis-blocking. */
  private[graft] def partNames(part: DataFrame): Array[String] = {
    val names = graft.util.Bounded.rows(part.select(col("p_name")).distinct(),
      4096, "q125 part-name vocabulary").map(_.getString(0))
    val bad = names.filterNot(TwoTokens.matches)
    require(bad.isEmpty, s"q125 part names ${bad.take(3).mkString("'", "', '", "'")} " +
      "are not two single-space-separated tokens — the last-token blocking " +
      "key would diverge from the oracle's split_part(p_name, ' ', 2)")
    names
  }

  val all: Seq[DeclaredQuery] = Seq(q111, q125)
}

package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator matching TESTDATA.md's shapes, for
  * scale runs ABOVE the driver-provided sf0.1 (the driver's /root/testdata is
  * read-only; this writes under the repo, e.g. testdata_gen/sf1).
  *
  * Every value is a pure hash of (table, row id) — xxhash64-derived uniforms,
  * no RNG, no time — so any scale factor regenerates bit-identically and two
  * runs at different parallelism agree. Distributions mirror the driver data
  * observed at sf0.1 (row-count ratios, key cardinalities, value ranges,
  * vocab, duplicate rate) so per-query times are comparable across sf; they
  * are NOT byte-identical to the driver's generator and live in a separate
  * directory.
  *
  * Usage: runMain graft.tools.DataGen <sf> <outDir> [tables]
  *   e.g. 1.0 testdata_gen/sf1
  *        250 testdata_gen/emb5m embeddings   — only the named tables
  */
object DataGen {

  /** uniform in [0,1) from id + salt — pure, partition-invariant. */
  private def u(id: Column, salt: String): Column =
    (pmod(xxhash64(id, lit(salt)), lit(1000000L)).cast("double") / 1e6)

  private def uint(id: Column, salt: String, n: Int): Column =
    pmod(xxhash64(id, lit(salt)), lit(n.toLong)).cast("int")

  private def pick(id: Column, salt: String, vals: Seq[String]): Column = {
    val arr = array(vals.map(lit): _*)
    element_at(arr, uint(id, salt, vals.size) + 1)
  }

  /** ~N(0, sigma) via Box–Muller on two hash uniforms. */
  private def gauss(id: Column, salt: String, sigma: Double): Column = {
    val u1 = (pmod(xxhash64(id, lit(salt + "#1")), lit(999999L)).cast("double") + 1.0) / 1e6
    val u2 = u(id, salt + "#2")
    sqrt(lit(-2.0) * log(u1)) * cos(lit(2.0 * math.Pi) * u2) * lit(sigma)
  }

  private val Segments = Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PTypes = Seq("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")
  private val PAdjs = Seq("large", "hot", "blue", "small", "red", "green", "cold", "dim")
  private val PNouns = Seq("ring", "bolt", "gear", "tube", "rod", "cap", "pin", "disc")
  private val EventTypes = Seq("signup", "click", "error", "view", "purchase")
  /** the documents vocabulary. */
  private[tools] val DocVocab = Seq(
    "spark", "table", "query", "hash", "line", "slow", "fast", "value", "filter",
    "customer", "stream", "key", "group", "scan", "order", "window", "join",
    "part", "vector", "small", "big", "data", "row", "sort", "column", "batch",
    "agg", "merge", "the", "a")

  /** GRAFT_DOC_VOCAB=zipf swaps the 30-word vocabulary for a Zipfian
    * 50k-type one (VERDICT r13 item 2): the legacy vocab SATURATES the
    * trigram space (27000 possible trigrams, all covered at sf10 —
    * BASELINE r13 addendum 6), which makes n-gram prefilter selectivity,
    * LSH bucket-occupancy, and BPE-merge claims unfalsifiable on it. A
    * real corpus' benchmark n-grams are sparse in the corpus n-gram
    * space; this variant restores that. Deterministic and hash-derived
    * like everything here: rank = floor(V^u) with u a pure hash uniform
    * (inverse-CDF of P(r) ∝ 1/r, the classic Zipf s=1), word text =
    * 4-9 hex chars of md5(rank) under a 'z' prefix so types are
    * length-varied for subword/BPE realism. */
  private val ZipfV = 50000.0
  private def zipfWord(u: Column): Column = {
    val rank = floor(pow(lit(ZipfV), u)).cast("long") + 1
    concat(lit("z"), md5(concat(lit("zw"), rank))
      .substr(lit(1), (pmod(rank, lit(6L)) + 4).cast("int")))
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(1.0)
    val outDir = if (args.length > 1) args(1) else s"testdata_gen/sf$sf"
    val spark = graft.Session.builder("graft-datagen")
      .config("spark.sql.shuffle.partitions", "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nCust = (150000 * sf).toLong
    val nSupp = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nOrders = (1500000 * sf).toLong
    val nDocs = (50000 * sf).toLong
    val nVecs = (20000 * sf).toLong
    val nEvents = (10000000 * sf / 10).toLong // 1M at sf1, like driver's 100k at sf0.1
    val nUsers = (15000 * sf).toLong

    val tableFilter: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    def write(df: DataFrame, name: String): Unit =
      if (tableFilter.forall(_.contains(name))) {
        df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        println(s"[datagen] wrote $name")
      }

    // GRAFT_STAR_ADVERSARIAL=1 (VERDICT r16 next-round 1): the seventh
    // oracle-matrix leg — the star-schema tables get the adversarial
    // treatment the text/event/vector families already have, probing the
    // two classes NO prior distribution contained (judge-verified zero
    // NULLs anywhere; single uniform custkey draw):
    //   - NULL GROUP/JOIN KEYS: ~2% of c_mktsegment and (independently)
    //     c_nationkey are NULL — q05/q141's declared null-as-group +
    //     null-safe-merge contract (reference utils.py:121-135) and every
    //     GROUP BY/ORDER BY over them; ~1% of o_custkey NULL (FK
    //     completeness/orphan accounting, nullable window partitions);
    //     ~2% of documents.lang NULL (stored-attribute grouping);
    //   - HOT KEY: ~10% of all orders additionally land on o_custkey 42
    //     — the single-hot-key shape for user-partitioned windows and
    //     the orders⋈customer shuffle join;
    //   - EMPTY-GROUP EDGE: exactly ONE lineitem row (order 1, line 1)
    //     carries a fourth l_returnflag value 'X' — 1-row groups through
    //     every per-flag aggregate (stddev→NULL, 1-point Welzl, 1-row
    //     histogram/quantiles).
    // NULL sites are hash-chosen (pure function of id) like everything
    // here, so the leg regenerates bit-identically at any parallelism.
    val starAdv = sys.env.get("GRAFT_STAR_ADVERSARIAL").contains("1")
    def nullify(c: Column, id: Column, salt: String, pctIn50: Int): Column =
      if (starAdv) when(uint(id, salt, 50) < pctIn50, lit(null)).otherwise(c)
      else c

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), col("id").cast("int") + 1).as("r_name")),
      "region")
    write(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")

    write(spark.range(nCust).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      nullify(uint(col("id"), "c_nat", 25), col("id"), "c_nnat", 1)
        .as("c_nationkey"),
      round(u(col("id"), "c_bal") * 11000 - 1000, 2).as("c_acctbal"),
      nullify(pick(col("id"), "c_seg", Segments), col("id"), "c_nseg", 1)
        .as("c_mktsegment")), "customer")

    write(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      uint(col("id"), "s_nat", 25).as("s_nationkey"),
      round(u(col("id"), "s_bal") * 11000 - 1000, 2).as("s_acctbal")), "supplier")

    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(pick(col("id"), "p_adj", PAdjs), lit(" "),
        pick(col("id"), "p_noun", PNouns)).as("p_name"),
      concat(lit("Brand#"), uint(col("id"), "p_brand", 25)).as("p_brand"),
      pick(col("id"), "p_type", PTypes).as("p_type"),
      (uint(col("id"), "p_size", 50) + 1).as("p_size"),
      round(lit(900.0) + (col("id") % 1000) * 0.1, 2).as("p_retailprice")), "part")

    // orders: dates 1995-01-01 .. 2001-08-01 (2404 days)
    val epoch95 = lit(java.time.LocalDate.of(1995, 1, 1).toEpochDay * 86400L)
    val baseCust = pmod(xxhash64(col("id"), lit("o_cust")), lit(nCust))
    val custCol =
      if (starAdv)
        when(uint(col("id"), "o_nck", 100) < 1, lit(null)) // ~1% NULL FK
          .when(u(col("id"), "o_hot") < 0.10, lit(42L))    // hot key
          .otherwise(baseCust)
      else baseCust
    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      custCol.as("o_custkey"),
      when(uint(col("id"), "o_st", 100) < 49, "F")
        .when(uint(col("id"), "o_st", 100) < 98, "O").otherwise("P").as("o_orderstatus"),
      round(u(col("id"), "o_total") * 400000 + 900, 2).as("o_totalprice"),
      timestamp_seconds(epoch95 + uint(col("id"), "o_date", 2404).cast("long") * 86400L)
        .as("o_orderdate"),
      pick(col("id"), "o_prio", Priorities).as("o_orderpriority"))
    write(orders, "orders")

    // lineitem: 1..7 lines per order (avg 4 → ~4x orders)
    val li = orders.select(col("o_orderkey"), col("o_orderdate"))
      .withColumn("l_linenumber",
        explode(sequence(lit(1), uint(col("o_orderkey"), "l_n", 7) + 1)))
      .withColumn("_lid", col("o_orderkey") * 8 + col("l_linenumber"))
    write(li.select(
      col("o_orderkey").as("l_orderkey"),
      pmod(xxhash64(col("_lid"), lit("l_part")), lit(nPart)).as("l_partkey"),
      pmod(xxhash64(col("_lid"), lit("l_supp")), lit(nSupp)).as("l_suppkey"),
      col("l_linenumber"),
      (uint(col("_lid"), "l_qty", 50) + 1).cast("double").as("l_quantity"),
      round(u(col("_lid"), "l_price") * 104100 + 900, 2).as("l_extendedprice"),
      (uint(col("_lid"), "l_disc", 11).cast("double") / 100).as("l_discount"),
      (uint(col("_lid"), "l_tax", 9).cast("double") / 100).as("l_tax"),
      (if (starAdv)
        when(col("_lid") === 9, lit("X")) // order 1, line 1: a 1-row flag group
          .otherwise(pick(col("_lid"), "l_rf", Seq("A", "N", "R")))
      else pick(col("_lid"), "l_rf", Seq("A", "N", "R"))).as("l_returnflag"),
      pick(col("_lid"), "l_ls", Seq("O", "F")).as("l_linestatus"),
      (col("o_orderdate") + make_dt_interval(uint(col("_lid"), "l_ship", 120) + 1))
        .as("l_shipdate")), "lineitem")

    // documents: ~54-word texts over the 30-word vocab; ~0.2% exact dups
    // (doc N*500 copies doc N*500-1, like the driver's handful of dups)
    val baseId = when(col("id") % 500 === 0 && col("id") > 0, col("id") - 1)
      .otherwise(col("id"))
    // GRAFT_CHAIN_DOCS=N (default 0): the first N docs become a SLIDING-
    // WINDOW near-dup CHAIN — doc i is words [2i, 2i+54) of one global
    // deterministic word stream, so adjacent docs share 52/54 words
    // (3-shingle Jaccard ≈ 0.9 ⇒ MinHash band edges i↔i+1) while distant
    // docs share nothing. The resulting dup-cluster graph has DIAMETER
    // ≈ N — the adversarial topology for connected components' round
    // count (real corpora measured ≤ ~16 hops; this forces ≥ N hops).
    val chainDocs = sys.env.getOrElse("GRAFT_CHAIN_DOCS", "0").toLong
    val zipf = sys.env.get("GRAFT_DOC_VOCAB").contains("zipf")
    def uHash(cols: Column*): Column =
      (pmod(xxhash64(cols: _*), lit(1000000L)).cast("double") + 0.5) / 1e6
    def streamWord(j: Column): Column =
      if (zipf) zipfWord(uHash(j, lit("d_chain")))
      else element_at(array(DocVocab.map(lit): _*),
        pmod(xxhash64(j, lit("d_chain")), lit(DocVocab.size.toLong)).cast("int") + 1)
    val normalWords = transform(
      sequence(lit(0L), (uint(baseId, "d_len", 86) + 14).cast("long")),
      i =>
        if (zipf) zipfWord(uHash(baseId, i, lit("d_w")))
        else element_at(array(DocVocab.map(lit): _*),
          pmod(xxhash64(baseId, i, lit("d_w")), lit(DocVocab.size.toLong)).cast("int") + 1))
    val words = if (chainDocs > 0)
      when(col("id") < chainDocs,
        transform(sequence(col("id") * 2, col("id") * 2 + 53), j => streamWord(j)))
        .otherwise(normalWords)
    else normalWords
    val docs = spark.range(nDocs).select(
      col("id").as("doc_id"),
      array_join(words, " ").as("text"),
      nullify(
        when(uint(col("id"), "d_lang", 100) < 41, "en")
          .when(uint(col("id"), "d_lang", 100) < 56, "zh")
          .when(uint(col("id"), "d_lang", 100) < 71, "es")
          .when(uint(col("id"), "d_lang", 100) < 86, "fr").otherwise("de"),
        col("id"), "d_nlang", 1).as("lang"),
      concat(lit("src"), uint(col("id"), "d_src", 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write(docs, "documents")

    // embeddings: 64-dim ~N(0, 0.12) floats, label 0..9.
    //
    // GRAFT_VEC_DEGEN=1 (VERDICT r15 next-round 3b): a vector-degeneracy
    // distribution probing the division-by-degenerate-margin bug class in
    // the vector family (the q117 recipe applied to embeddings):
    //   - ZERO-NORM vectors (vec_id ≡ 0 mod 173): cosine denominators go
    //     0 — q25/q34's dot/(nrm·pnrm) divides by zero unless guarded;
    //   - EXACT DUPLICATES (vec_id ≡ 1 mod 100 copies vec_id−1, computed
    //     by re-evaluating the pure hash formulas at id−1): cosine ties at
    //     exactly 1.0 probe rank tie-breaks; a dup of a zero vector stays
    //     zero (one-level dupOf below — chains can't occur, 1 mod 100 is
    //     never consecutive);
    //   - CLUSTERED 90/10: 90% of vectors sit in 3 tight clusters
    //     (center σ=0.12, intra-cluster noise σ=0.02), 10% keep the
    //     legacy scattered draw — an IVF cell-starvation shape (most
    //     k-means cells end up empty or near-empty).
    val vecDegen = sys.env.get("GRAFT_VEC_DEGEN").contains("1")
    def vecOf(vid: Column): Column =
      if (!vecDegen)
        transform(sequence(lit(0L), lit(63L)),
          i => gauss(vid * 64 + i, "e_v", 0.12).cast("float"))
      else {
        val cid = uint(vid, "e_cid", 3).cast("long")
        transform(sequence(lit(0L), lit(63L)), i =>
          when(u(vid, "e_scat") < 0.10, gauss(vid * 64 + i, "e_v", 0.12))
            .otherwise(gauss(cid * 64 + i, "e_ctr", 0.12) +
              gauss(vid * 64 + i, "e_v", 0.02)).cast("float"))
      }
    val zeroVec = transform(sequence(lit(0L), lit(63L)), _ => lit(0.0f))
    def dupOf(vid: Column): Column =
      when(pmod(vid, lit(173L)) === 0, zeroVec).otherwise(vecOf(vid))
    val dims =
      if (vecDegen)
        when(col("id") % 173 === 0, zeroVec)
          .when(col("id") % 100 === 1 && col("id") > 0, dupOf(col("id") - 1))
          .otherwise(vecOf(col("id")))
      else vecOf(col("id"))
    write(spark.range(nVecs).select(
      col("id").as("vec_id"), dims.as("embedding"),
      uint(col("id"), "e_lbl", 10).as("label")), "embeddings")

    // events: ts spread over Jan 2024 in event_id order with jitter, like
    // the driver's stream (sessionization relies on realistic gaps).
    //
    // GRAFT_EVENT_SKEW=1 (VERDICT r15 next-round 3a): an adversarial event
    // distribution probing skew and boundary-tie semantics:
    //   - HOT USER: ~10% of all events land on user_id 0 (on top of its
    //     uniform share) — the single-hot-key shape for every
    //     user-partitioned window/session query (q96/q100/q107/q24*);
    //   - EQUAL-µs TIES: id ≡ 1 mod 89 echoes id−1's exact timestamp and
    //     user as a 'click'; id ≡ 2 mod 89 echoes id−2 as an 'error' —
    //     guaranteed click/error pairs at identical microseconds (q58's
    //     ORDER BY eus, side, event_id tie rule); id ≡ 1/2 mod 83 do the
    //     same for 'purchase'/'view' pairs (funnel/window tie-breaks);
    //   - EXACT SESSION-GAP BOUNDARY: id ≡ 1 mod 97 lands exactly
    //     1800.000000 s after id−1 for the same user — the q24c/q24d
    //     `> 1800` floored-second edge (same-session, not new);
    //   - EXACT AS-OF TOLERANCE EDGE: id ≡ 1 mod 101 is forced 'click',
    //     id ≡ 2 mod 101 is an 'error' exactly 3600000000 µs after id−1
    //     for the same user — q58's `gap <= tolerance` inclusive edge.
    // Echo rows re-evaluate the pure hash formulas at the anchor id, so
    // the generator stays partition-invariant and bit-reproducible. When
    // an anchor id itself matched an earlier echo rule its natural ts was
    // overridden and that one probe degrades to an ordinary gap — rare
    // (rule moduli are coprime) and harmless: the probes fire on the vast
    // majority of their sites.
    //
    // ADVICE r16: ts/usr/type each had their OWN when-chain with
    // non-identical rule orderings (the type chain had a 101≡1 rule the
    // ts/usr chains lacked), so an id matching overlapping rules (e.g.
    // ≡1 mod 97 and ≡1 mod 101) could get a forced 'click' type paired
    // with a 97-rule timestamp — the 3600 s as-of probe at id+1 then
    // measured a different gap than its declared anchor semantics. Fixed
    // by ONE shared rule selector (first matching rule id, one precedence
    // order) from which all three columns derive — a row now always
    // agrees with itself about which probe fired; overlapping-rule sites
    // degrade to ordinary rows for the LOWER-precedence probe (the
    // documented rare-degrade class), never to a mixed-rule row.
    val evSkew = sys.env.get("GRAFT_EVENT_SKEW").contains("1")
    val epoch24us = lit(java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L * 1000000L)
    val spanUs = 30L * 86400L * 1000000L
    // per-event gap precomputed: id * spanUs overflows Long above ~3.5M
    // events (ANSI catches it); id * gap stays far inside the range
    def tsUs(i: Column): Column =
      epoch24us + i * lit(spanUs / nEvents) + pmod(xxhash64(i, lit("ev_j")), lit(2000000L))
    def usr(i: Column): Column = {
      val base =
        if (evSkew)
          when(u(i, "ev_hot") < 0.10, lit(0L))
            .otherwise(pmod(xxhash64(i, lit("ev_u")), lit(nUsers)))
        else pmod(xxhash64(i, lit("ev_u")), lit(nUsers))
      // staradv (r17): ~0.5% NULL user_id — the user-partitioned
      // session/window family had never seen a NULL partition key. The
      // nullify lives INSIDE usr() so evskew echo rows (which re-evaluate
      // usr at the anchor id) reproduce the anchor's NULL consistently.
      if (starAdv) when(uint(i, "ev_nusr", 200) < 1, lit(null)).otherwise(base)
      else base
    }
    val id = col("id")
    val (tsCol, usrCol, typCol) =
      if (!evSkew)
        (tsUs(id), usr(id), pick(id, "ev_t", EventTypes))
      else {
        // one selector, one precedence order; 0 = no rule (natural row)
        val rule = when(id % 89 === 1 && id > 0, 1)
          .when(id % 89 === 2 && id > 1, 2)
          .when(id % 83 === 1 && id > 0, 3)
          .when(id % 83 === 2 && id > 1, 4)
          .when(id % 97 === 1 && id > 0, 5)
          .when(id % 101 === 1 && id > 0, 6) // as-of ANCHOR: type-only rule
          .when(id % 101 === 2 && id > 1, 7)
          .otherwise(0)
        val ts = when(rule === 1 || rule === 3, tsUs(id - 1))
          .when(rule === 2 || rule === 4, tsUs(id - 2))
          .when(rule === 5, tsUs(id - 1) + lit(1800L * 1000000L))
          .when(rule === 7, tsUs(id - 1) + lit(3600L * 1000000L))
          .otherwise(tsUs(id))
        val us = when(rule === 1 || rule === 3 || rule === 5 || rule === 7,
            usr(id - 1))
          .when(rule === 2 || rule === 4, usr(id - 2))
          .otherwise(usr(id))
        val ty = when(rule === 1 || rule === 6, lit("click"))
          .when(rule === 2 || rule === 7, lit("error"))
          .when(rule === 3, lit("purchase"))
          .when(rule === 4, lit("view"))
          .otherwise(pick(id, "ev_t", EventTypes))
        (ts, us, ty)
      }
    write(spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(tsCol).as("ts"),
      usrCol.as("user_id"),
      typCol.as("event_type"),
      round(u(col("id"), "ev_v") * 560, 2).as("value"),
      concat(lit("{\"k\": "), uint(col("id"), "ev_k", 100), lit("}")).as("props")),
      "events")

    println(s"[datagen] done: sf=$sf at $outDir")
    spark.stop()
  }
}

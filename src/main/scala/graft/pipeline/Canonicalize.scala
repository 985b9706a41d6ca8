package graft.pipeline

import graft.core.{Determinism, Pin, Pinned}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Entity canonicalization (north_star): blocking + connected components
  * over the same-entity graph; canonical id = min entity id per component.
  *
  * Blocking key here is a deterministic alias normalization (first-3-chars
  * prefix + the numeric part) — ids sharing a key become CC edges. The
  * MinHash-LSH blocking variant for fuzzy-name candidates lives in
  * graft.dedup (shared machinery); the CC core below is generic and handles
  * transitive chains across keys, with checkpointed lineage.
  */
object Canonicalize {

  /** alias normalization: lowercase 3-prefix + digits ("Ent 7" & "Entity 7"
    * → "ent|7"). */
  def normKey = concat(
    lower(substring(col("surface"), 1, 3)), lit("|"),
    regexp_extract(col("surface"), "(\\d+)", 1))

  /** (entity_id, canonical) for every entity in the alias table. */
  def canonicalMap(aliases: DataFrame): DataFrame = {
    // bipartite edges entity ↔ blocking-key node
    val edges = aliases.select(col("entity_id").as("src"),
      concat(lit("K:"), normKey).as("dst")).distinct()
    val comp = ConnectedComponents.run(edges)
    // canonical = min *entity* id in the component (exclude K: block nodes)
    val entComp = comp.filter(!col("id").startsWith("K:"))
    val canon = entComp.groupBy("component").agg(min(col("id")).as("canonical"))
    entComp.join(canon, Seq("component")).select(col("id").as("entity_id"), col("canonical"))
  }

  /** Salt fan-out for the big-catalog path. */
  val DefaultSaltBuckets: Int = 8

  /** Inner-join `df` to a unique-keyed pinned map (`entity_id` →
    * `canonical`, renamed to `key`/`out`), gated on the map's counted size
    * (north_rule: skew handled explicitly):
    *
    *  - fits the broadcast threshold: BroadcastHashJoin (the map is the
    *    build side — the planner picks it from the pinned stats).
    *  - above: a broadcast would ship a web-scale catalog (10⁸+ entities)
    *    to the driver and every executor, so the join is a SALTED
    *    ShuffledHashJoin. The map side is replicated
    *    ×`saltBuckets` and the fact side computes a deterministic per-row
    *    salt, so a head entity's rows (north_rule's skew case: a handful of
    *    canonical ids dominating the triple stream) spread over
    *    `saltBuckets` shuffle partitions instead of hot-spotting one. The
    *    map key is unique per row, so replication is safe (each fact row
    *    still matches exactly once) and costs |map|·saltBuckets — linear.
    *    SHUFFLE_HASH keeps Spark from sort-merging the fact stream.
    */
  def saltedMapJoin(df: DataFrame, map: Pinned, key: String, out: String,
                    saltBuckets: Int = DefaultSaltBuckets): DataFrame = {
    val m = map.df.select(col("entity_id").as(key), col("canonical").as(out))
    if (map.fits) df.join(m, Seq(key))
    else {
      // per-row salt: hash of the non-key columns MIXED with a per-partition
      // row counter (monotonically_increasing_id = partition_id·2³³ + row
      // index — deterministic given the stage's partitioning, recomputed
      // identically on task retry). The counter guarantees no input shape
      // degenerates: zero non-key columns, constant non-key columns
      // (ADVICE r4), or a head key's duplicates landing in one partition
      // all still spread ~uniformly over the buckets. The salt only ever
      // affects balance, never results — the map side is replicated to
      // every bucket. The salt column name is made fresh so a caller
      // column can't be clobbered.
      var saltCol = "__salt"
      while (df.columns.contains(saltCol)) saltCol += "_"
      val others = df.columns.filterNot(_ == key).map(col)
      val saltExpr = pmod(
        xxhash64(struct((others.toIndexedSeq :+
          monotonically_increasing_id().as("__rid")): _*)),
        lit(saltBuckets))
      val salted = df.withColumn(saltCol, saltExpr.cast("int"))
      val replicated = m.withColumn(saltCol,
        explode(array((0 until saltBuckets).map(lit): _*)))
      salted.join(replicated.hint("shuffle_hash"), Seq(key, saltCol))
        .drop(saltCol)
    }
  }

  /** MinHash-LSH-blocked canonicalization (north_star: "canonicalizes
    * entities with MinHash-LSH blocking + connected-components") for FUZZY
    * alias catalogs — name variants that share no exact normalization key
    * ("Acme Corporation Ltd" / "Acme Corp Ltd"). Blocking = the dedup
    * engine's banded MinHash over surface 3-gram shingles (candidate pairs
    * only where a band collides — never all-pairs, so the pair stage is
    * linear-ish in the catalog, the 100-TB shape); matching = exact
    * shingle Jaccard ≥ `threshold` (the verify stage minhashLsh already
    * runs); same-entity edges then collapse through the same alternating
    * large-star/small-star CC as the exact-key path. Canonical id = min
    * entity id per component; surfaces whose best entities tie stay apart
    * unless a band links them — blocking recall is the threshold's job.
    * Exact-key and fuzzy blocking compose: pass `alsoExactKey = true` to
    * union the [[canonicalMap]] key edges (catalogs usually want both). */
  def fuzzyCanonicalMap(aliases: DataFrame, threshold: Double,
                        alsoExactKey: Boolean = false): DataFrame = {
    val pinned = Pin(graft.pipeline.Link.resolveAliases(aliases))
    val resolved = pinned.df
    val surfaceCorpus = resolved.select(col("surface").as("doc_id"), col("surface").as("text"))
    val pairs = graft.dedup.Dedup.minhashLsh(surfaceCorpus, threshold)
    val entOf = resolved.select(col("surface"), col("entity_id"))
    // surface → entity attachment, gated like the canonical-map joins: the
    // pinned alias table broadcasts while it fits the threshold and
    // shuffle-hashes when it is web-scale (the candidate-pair side is
    // bucketed-linear, so a pair shuffle on the surface key stays
    // proportional to the blocking output, never all-pairs)
    def gate(df: DataFrame): DataFrame = if (pinned.fits) df else df.hint("shuffle_hash")
    val fuzzyEdges = pairs
      .join(gate(entOf.withColumnRenamed("surface", "a")
        .withColumnRenamed("entity_id", "src")), Seq("a"))
      .join(gate(entOf.withColumnRenamed("surface", "b")
        .withColumnRenamed("entity_id", "dst")), Seq("b"))
      .select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val keyEdges =
      if (alsoExactKey) aliases.select(col("entity_id").as("src"),
        concat(lit("K:"), normKey).as("dst")).distinct()
      else aliases.sparkSession.emptyDataFrame
        .select(lit("").as("src"), lit("").as("dst")).limit(0)
    val comp = ConnectedComponents.run(fuzzyEdges.unionAll(keyEdges))
    val entComp = comp.filter(!col("id").startsWith("K:"))
    val canon = entComp.groupBy("component").agg(min(col("id")).as("canonical"))
    val mapped = entComp.join(canon, Seq("component"))
      .select(col("id").as("entity_id"), col("canonical"))
    // CC only emits ids incident to an edge; unlinked entities are their
    // own canonical
    val singletons = entOf.select(col("entity_id")).distinct()
      .join(mapped.select(col("entity_id")), Seq("entity_id"), "left_anti")
      .select(col("entity_id"), col("entity_id").as("canonical"))
    mapped.unionAll(singletons)
  }

  /** Sorted-neighborhood candidate matching (Hernández & Stolfo, SIGMOD'95
    * merge/purge) — the third blocking family next to [[normKey]] (exact
    * key) and [[fuzzyCanonicalMap]] (MinHash-LSH): sort all surface forms,
    * compare each to its next `window` neighbors in the total (name, id)
    * order, keep pairs within `maxDist` edit distance. O(n·w) candidates
    * by construction — no block ever goes quadratic, which is the failure
    * mode of prefix/key blocking on a 10⁹-name catalog where half the
    * names share one token.
    *
    * Scale shape: the global sort rank comes from [[graft.core.Ranks
    * .rankByBucketedOrder]] (bounded order-preserving buckets + partitioned
    * windows — never a single-partition global window); the neighbor pairs
    * are ONE equi-join of the ranked table to itself on `rank = rank + j`
    * (j exploded 1..window), so the candidate stream is co-partitioned and
    * the `levenshtein` filter is row-local codegen. The result is a pure
    * function of the (name, id) order — partitioning-invariant.
    *
    * `bucket` must be order-preserving over `nameCol` (default: first two
    * ASCII bytes — correct for any ASCII-clean surface forms; swap for a
    * locale-aware key before sorting non-ASCII names). Output: (u, v,
    * name_u, name_v, dist), u the lower-ranked id. */
  def sortedNeighborPairs(
      entities: DataFrame,
      idCol: String,
      nameCol: String,
      window: Int = 3,
      maxDist: Int = 2): DataFrame = {
    require(window >= 1 && maxDist >= 0, "window >= 1, maxDist >= 0")
    val bucket = (ascii(substring(col("name"), 1, 1)) * 256 +
      coalesce(ascii(substring(col("name"), 2, 1)), lit(0))).cast("long")
    val ranked = Pin(graft.core.Ranks.rankByBucketedOrder(
        entities.select(col(idCol).as("id"), col(nameCol).as("name")),
        bucket, Seq(col("name"), col("id")), "rnk")).df
    val probes = ranked.select(col("id"), col("name"),
      explode(array((1 to window).map(j => col("rnk") + lit(j.toLong)): _*)).as("rnk2"))
    probes.join(ranked.select(col("id").as("v"), col("name").as("name_v"),
        col("rnk").as("rnk2")), Seq("rnk2"))
      .filter(levenshtein(col("name"), col("name_v")) <= maxDist)
      .select(col("id").as("u"), col("v"),
        col("name").as("name_u"), col("name_v"),
        levenshtein(col("name"), col("name_v")).cast("long").as("dist"))
  }

  /** Rewrite linked triples onto canonical ids. `keep` passes extra columns
    * through (streaming callers keep their event-time column).
    *
    * The canonical map is pinned once ([[graft.core.Pin]] — both joins
    * reuse it instead of re-running connected components); the joins then
    * go through [[saltedMapJoin]]: broadcast while the map fits the
    * broadcast threshold, salted shuffle-hash for web-scale catalogs (an
    * unconditional broadcast hint would force a driver-killing build at
    * 10⁸+ entities regardless of AQE/statistics).
    *
    * Durability note: pinned blocks live on executors (same
    * contract as the CC rounds feeding this map — the engine-wide trade of
    * bounded lineage for executor-loss recompute, documented since r1).
    * A production LONG-RUNNING streaming deployment points the map at a
    * reliably-stored copy instead: [[writeDurableMap]] persists it via
    * TableIO, [[readDurableMap]] re-reads it on restart, and `mapOverride`
    * feeds it through — the join shapes are unchanged by the swap
    * (StreamingKgSpec's durable-refresh case exercises the full cycle). */
  def apply(linked: DataFrame, aliases: DataFrame,
            keep: Seq[String] = Nil,
            saltBuckets: Int = DefaultSaltBuckets,
            mapOverride: Option[DataFrame] = None): DataFrame = {
    val canon = Pin(mapOverride.getOrElse(canonicalMap(aliases)))
    val subj = saltedMapJoin(linked, canon, "subj_id", "subj", saltBuckets)
    saltedMapJoin(subj, canon, "obj_id", "obj", saltBuckets)
      .select(keep.map(col) :+ col("subj") :+ col("pred") :+ col("obj"): _*)
  }

  /** Persist the connected-components canonical map durably (the SCD
    * refresh contract for long-running streaming: recompute on the refresh
    * cadence, write, restart the query against the same checkpoint with
    * the re-read map). Plain unpartitioned write — the map is (entity_id,
    * canonical), unique per entity, and its consumers re-shuffle or
    * broadcast it per [[saltedMapJoin]]'s gate anyway. */
  def writeDurableMap(io: graft.core.TableIO, aliases: DataFrame, table: String): Unit =
    io.write(canonicalMap(aliases), table)

  /** Read a durable canonical map back for `apply`'s `mapOverride` /
    * StreamingKg's `canonicalMapOverride`. */
  def readDurableMap(io: graft.core.TableIO, table: String): DataFrame =
    io.read(table).select(col("entity_id"), col("canonical"))
}

/** Connected components via the ALTERNATING large-star / small-star
  * algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii:
  * "Connected Components in MapReduce and Beyond", SoCC'14) on DataFrames —
  * the Catalyst-friendly alternative to GraphX the north rule asks for.
  *
  * Each round is two grouped-min + join passes:
  *   large-star(u): every neighbor v > u re-points to m = min(Γ⁺(u));
  *   small-star(u): every neighbor v < u re-points to m, and u itself too.
  * Converges to per-component stars rooted at the minimum id in
  * O(log n) rounds REGARDLESS of component diameter — min-label
  * propagation needs O(diameter) rounds, and a web-scale alias graph can
  * chain thousands deep (worse: an iteration cap would silently return
  * unconverged, i.e. wrong, components). Non-convergence here raises.
  */
object ConnectedComponents {

  /** edges(src, dst) undirected → (id, component = min id in component).
    * Only ids incident to an edge appear (callers union isolated nodes).
    * The canonical edge set is pinned; when it fits the broadcast envelope
    * (the alias catalog's few hundred edges, or any graph up to
    * `spark.sql.autoBroadcastJoinThreshold` bytes) it solves via driver
    * union-find over the rows the pin job returns ([[Pin.withRows]]) — one
    * job instead of ~20 tiny barrier jobs through the star rounds. Above
    * it, alternating star rounds. Both pick each component's minimum in
    * Spark's order (strings as UTF-8 bytes), so the representative does
    * not depend on the input's size. Every round is pinned: the
    * convergence check compares the two pins' counted rows, then runs the
    * one-way `exceptAll`, and the next round re-reads the round's edge
    * set, so an unmaterialized round would evaluate its star chain twice. */
  def run(edges: DataFrame, maxIter: Int = 40): DataFrame = {
    def canon(e: DataFrame) = e
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    def sym(e: DataFrame) = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    def mins(s: DataFrame) = s.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    def largeStar(e: DataFrame) = {
      val s = sym(e)
      canon(s.filter(col("v") > col("u")).join(mins(s), Seq("u"))
        .select(col("v").as("u"), col("m").as("v")))
    }
    def smallStar(e: DataFrame) = {
      val s = sym(e)
      val m = mins(s)
      canon(s.filter(col("v") < col("u")).join(m, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(m.select(col("u"), col("m").as("v"))))
    }

    val e0 = canon(edges.select(col("src").as("u"), col("dst").as("v")))
    val ord = driverOrdering(e0)
    val (pinned, rows) = if (ord.isDefined) Pin.withRows(e0) else (Pin(e0), None)
    if (rows.isDefined) return driverRun(pinned.df, rows.get, ord.get)
    var e = pinned
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      i += 1
      val next = Pin(smallStar(largeStar(e.df)))
      // set equality: same cardinality + one-way difference empty
      converged = next.rows == e.rows && next.df.exceptAll(e.df).isEmpty
      e = next
    }
    if (!converged)
      throw new IllegalStateException(s"connected components not converged after $maxIter rounds")
    // fixpoint is a union of stars rooted at each component's min id
    val s = sym(e.df)
    s.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u").as("id"), least(col("u"), col("mv")).as("component"))
  }

  /** INCREMENTAL maintenance of an (id, component) map — the daily-crawl
    * shape: yesterday's alias graph is solved, today adds a sliver of new
    * sameAs/alias pairs, and re-running CC over the whole accumulated pair
    * set would be a full-graph job for a marginal delta (the same
    * economics as Dedup.incrementNearDup / PageRank.computeFrom).
    *
    * CONTRACTION argument: rewrite each new pair's endpoints to their
    * current component (identity for ids the map has never seen) and solve
    * CC over THAT graph only — contracting a solved component to its
    * representative preserves connectivity, so the merged components of
    * (old ∪ new) are exactly the components of the contracted new-pair
    * graph, unioned with untouched old components. Since every stored
    * representative is its component's MINIMUM id and participates as
    * itself in the contracted solve, the merged minimum is recovered
    * exactly — including when a brand-new id undercuts every existing
    * representative. Cost: one map lookup join over |newPairs|, a CC solve
    * on a |newPairs|-sized graph (usually the driver union-find path), and
    * one broadcast rep-of-rep rewrite of the stored map — the full pair
    * history is never touched. Output contract identical to [[run]];
    * parity with a from-scratch solve is gate-checked (kg_cc_increment). */
  def increment(map: DataFrame, newPairs: DataFrame,
                maxIter: Int = 40): DataFrame = {
    val m = map.select(col("id"), col("component"))
    val contracted = newPairs.select(col("src").as("u0"), col("dst").as("v0"))
      .join(m.select(col("id").as("u0"), col("component").as("cu")), Seq("u0"), "left")
      .join(m.select(col("id").as("v0"), col("component").as("cv")), Seq("v0"), "left")
      .select(coalesce(col("cu"), col("u0")).as("src"),
        coalesce(col("cv"), col("v0")).as("dst"))
    val touched = run(contracted, maxIter) // (id = old rep | new id, component)
    val updatedOld = m
      .join(broadcast(touched.select(col("id").as("component"), col("component").as("merged"))),
        Seq("component"), "left")
      .select(col("id"), coalesce(col("merged"), col("component")).as("component"))
    val brandNew = touched.join(m.select("id"), Seq("id"), "left_anti")
    updatedOld.unionAll(brandNew)
  }

  /** The driver path is type-generic over any id type whose `min` matches
    * the star rounds' least/greatest semantics; None → stay distributed. */
  private def driverOrdering(e: DataFrame): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    e.schema.fields(0).dataType match {
      case StringType => Some(Determinism.utf8Order.on[Any](_.asInstanceOf[String]))
      case LongType => Some(Ordering.Long.on[Any](_.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.Int.on[Any](_.asInstanceOf[Int]))
      case _ => None
    }
  }

  /** Driver union-find over the pinned edge list's rows —
    * identical output contract to the star rounds ((id, min id in
    * component), edge-incident ids only, same id type). */
  private def driverRun(e: DataFrame, edgeRows: Array[org.apache.spark.sql.Row],
                        ord: Ordering[Any]): DataFrame = {
    val spark = e.sparkSession
    val idType = e.schema.fields(0).dataType
    val pairs = edgeRows.map(r => (r.get(0), r.get(1)))
    val parent = scala.collection.mutable.Map.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val comp = parent.keys.toSeq.groupBy(find)
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(comp.valuesIterator.flatMap { ids =>
        val m = ids.min(ord)
        ids.map(id => org.apache.spark.sql.Row(id, m))
      }.toSeq: _*)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType, nullable = false),
      org.apache.spark.sql.types.StructField("component", idType, nullable = false)))
    spark.createDataFrame(rows, schema)
  }
}

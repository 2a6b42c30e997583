package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Transitive clustering: connected components of an undirected edge list
  * (src, dst) of same-entity links (longs), as (node, component) with
  * component = the minimum node id reachable. No RDDs, no GraphX.
  *
  *  1. Local contraction (Łącki, Mirrokni, Włodarczyk, "Connected Components
  *     at Scale via Local Contractions", 2018). The min-oriented, deduped
  *     edges are cut into id ranges of the smaller id, and a union-find with
  *     min-id roots labels every node of a partition with the minimum id of
  *     its local component. A node seen in several partitions has several
  *     labels; m = the smallest. The distinct (label, m) with label ≠ m are
  *     the contracted graph, already min-oriented. Sorted-neighborhood pairs
  *     link neighbours in mention_id order and mention ids are doc-major, so
  *     the range cut splits each block's chain at most P−1 times and the
  *     contracted graph is tiny.
  *  2. A size gate, applied to the input first (an eligible input skips the
  *     contraction too) and then to the contracted graph: at most
  *     `spark.graft.cc.localSolveEdges` edges (default 2M; 0 disables) and no
  *     snapshot root solve by the same union-find on the driver.
  *  3. Otherwise alternating large-star / small-star rounds with pointer
  *     jumping (Kiveris et al., "Connected Components in MapReduce and
  *     Beyond", SoCC'14), O(log n) rounds to a fixpoint.
  *
  * Nodes map back through node → component(m), or m itself when m is in no
  * contracted edge. Ids stay "min reachable node": every label is the
  * minimum id of its local component, so the minimum g of a global
  * component is a label of itself (m(g) = g), every label in the component
  * is ≥ g, and contraction keeps connectivity, so each node's m reaches g.
  */
object ConnectedComponents {

  /** large-star: for each node u, connect every strictly-larger neighbor v
    * to m = min(N(u) ∪ {u}). */
  private def largeStar(edges: DataFrame): DataFrame = {
    val bi = edges.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(edges.select(col("dst").as("u"), col("src").as("v")))
    val mins = bi.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
    // pin shuffle-hash: per-round AQE broadcast decisions on the shrinking
    // working set are unstable (an occasional 20-40s round from a bad pick)
    bi.join(mins.hint("shuffle_hash"), "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("src"), col("m").as("dst"))
  }

  /** Path compression (pointer jumping) on a min-oriented edge set
    * (every edge has dst < src, which both stars guarantee): map each edge
    * (a, b) to (a, f(b)) where f(x) = min out-neighbor of x, or x at a
    * root. Connectivity is preserved — the chain b > f(b) > f²(b) > …
    * telescopes, and each link (fᵏ(b), fᵏ⁺¹(b)) is itself an edge whose
    * image keeps the chain connected — and no self-loops can appear
    * (f(b) ≤ b < a). One groupBy + one edge-sized equi-join per
    * application; the sorted-neighborhood mention graph is path-shaped
    * (chains of seq→seq±{1,2} links), where plain alternating stars need
    * ~log₂(chain length) rounds with the edge count barely shrinking —
    * compression halves the remaining chain depth each round on top of
    * that, cutting rounds ~2x (measured 14 → 8 at sf0.1). Emits duplicate
    * edges; callers feed it into smallStar whose leading distinct dedups. */
  private def compress(edges: DataFrame): DataFrame = {
    val f = edges.groupBy(col("src")).agg(min(col("dst")).as("fm"))
      .select(col("src").as("via"), col("fm"))
    edges.join(f.hint("shuffle_hash"), col("dst") === col("via"), "left")
      .select(col("src"), coalesce(col("fm"), col("dst")).as("dst"))
  }

  /** small-star: orient edges large->small; connect each small neighbor
    * (and u itself) to the minimum. Deduplicates its input and output (the
    * only distincts in a round). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("src"), col("dst")).as("u"),
      least(col("src"), col("dst")).as("v"))
      .distinct()
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    val nbr = oriented.join(mins.hint("shuffle_hash"), "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
    val self = mins.select(col("u").as("src"), col("m").as("dst"))
    nbr.unionByName(self).distinct()
  }

  /** Union-find with min-id roots: every node of `edges`, paired with the
    * minimum id of its component. One routine for the per-partition
    * contraction and the driver-side solve. */
  private def components(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (s, d) =>
      parent.putIfAbsent(s, s)
      parent.putIfAbsent(d, d)
      val (a, b) = (find(s), find(d))
      if (a < b) parent.put(b, a) else if (b < a) parent.put(a, b)
    }
    // find only rewrites values of present keys: safe while iterating keys
    import scala.jdk.CollectionConverters._
    parent.keySet.iterator.asScala.map(n => (n, find(n)))
  }

  /** Checkpoints an edge set and returns it with its signature (edge
    * count, hash sum). The lazy localCheckpoint truncates lineage across
    * rounds (plan blowup otherwise); the signature aggregation is the one
    * materializing job. No explicit repartition: a round ends in a
    * distinct(), which already hash-partitions at AQE-coalesced width. */
  private def materialize(df: DataFrame): (DataFrame, (Long, Long)) = {
    val p = df.localCheckpoint(false)
    val r = p.agg(count(lit(1)),
      coalesce(sum(hash(col("src"), col("dst")).cast("long")), lit(0L))).head()
    (p, (r.getLong(0), r.getLong(1)))
  }

  /** Runs to fixpoint; returns (node, component).
    *
    * Durability: by default rounds materialize via localCheckpoint (fast,
    * but blocks die with an executor — fine on local[k]). With `ckptRoot`
    * set (param or `spark.graft.cc.snapshotRoot` conf), every `ckptEvery`-th
    * star round is COMMITTED through Snapshots.commit (parquet + manifest
    * with lineage + per-partition counters), the working frame is re-rooted
    * on the committed files, and a rerun on the SAME contracted graph
    * (identified by its edge-set signature in the manifest lineage) resumes
    * from the last committed round instead of round 0 — the north_rule's
    * resume-from-checkpoint contract, kill-tested in PairsCcSpec. The
    * contraction is a function of the edge set, so a rerun finds the same
    * signature. `onRound` observes each executed star round index (the
    * contraction and the driver solve are not rounds). */
  def run(spark: SparkSession, edges: DataFrame, maxRounds: Int = 50,
      ckptRoot: Option[String] = None, ckptEvery: Int = 3,
      onRound: Int => Unit = _ => ()): DataFrame = {
    import spark.implicits._
    // Orient min-ward (dst < src) and materialize the deduped input at
    // session width (one shuffle over the raw edges).
    val (cur, sig) = materialize(
      edges.filter(col("src") =!= col("dst"))
        .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
        .select(greatest(col("s"), col("d")).as("src"),
          least(col("s"), col("d")).as("dst"))
        .distinct())
    val origParts = spark.conf.get("spark.sql.shuffle.partitions")
    val root = ckptRoot.orElse(spark.conf.getOption("spark.graft.cc.snapshotRoot"))
      .filter(_.nonEmpty)

    // Size-gated driver solve (the standard big-graph CC design, e.g.
    // GraphFrames' loop with a local finisher): an edge set that fits the
    // driver (default 2M edges = 32 MB) costs only scheduling latency in
    // distributed rounds. A GLOBAL graph at 10^12 documents exceeds any
    // driver, so the distributed path stays whenever durability is
    // requested (root defined) or the set is large.
    val localMax =
      spark.conf.getOption("spark.graft.cc.localSolveEdges")
        .map(_.toLong).getOrElse(2000000L)
    def fitsDriver(edgeCount: Long) = root.isEmpty && edgeCount <= localMax
    def solveOnDriver(df: DataFrame): DataFrame = {
      val rows = df.select(col("src"), col("dst")).collect()
      Bridge.unpersistLocalCheckpoint(df)
      val out = components(rows.iterator.map(r => (r.getLong(0), r.getLong(1)))).toSeq
      // broadcast hint: the result is a driver-local relation bounded by
      // the localSolveEdges gate, but without the hint the callers'
      // join-backs (runWithIsolated, cluster canonical attach) planned a
      // shuffle join — the corpus-node side rode an Exchange and the local
      // relation was re-serialized into shuffle tasks with multi-second GC
      // (profiled: the two heaviest stages of el_clusters' tail). As a
      // broadcast build side it ships once and the node side stays in place.
      broadcast(out.toDF("node", "component"))
    }
    if (fitsDriver(sig._1)) return solveOnDriver(cur)

    // Size the loop's shuffles to the WORKING SET, not the session default:
    // the CC edge list is tiny relative to the corpus, and each round runs
    // ~5 shuffles — at full session width el_clusters spent more time on
    // task scheduling (hundreds of sub-second stages) than on data.
    val loopParts = math.max(4L, math.min(origParts.toLong, sig._1 / 250000L + 4L))
    spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    try {
      // Range cuts on dst from a hash-picked sample of ~100 edges per
      // partition: the same edge set always cuts at the same ids. Not
      // repartitionByRange, whose sampling seed includes the RDD id: a rerun
      // would relabel and never match a committed loop's signature.
      val parts = loopParts.toInt
      val sample = cur.filter(pmod(xxhash64(col("src"), col("dst")),
          lit(math.max(1L, sig._1 / (100L * parts)))) === 0)
        .select(col("dst")).as[Long].collect().sorted
      val cuts = (1 until parts).flatMap(i => sample.lift(i * sample.length / parts))
        .distinct.toArray
      val rangeOf = udf((d: Long) => cuts.search(d).insertionPoint)
      // Pinned once, eagerly: labels has two consumers.
      val labels = cur.repartitionById(cuts.length + 1, rangeOf(col("dst")))
        .as[(Long, Long)].mapPartitions(it => components(it))
        .toDF("node", "label").localCheckpoint()
      Bridge.unpersistLocalCheckpoint(cur)
      val mins = labels.groupBy("node").agg(min(col("label")).as("m"))
      val (contracted, csig) = materialize(labels.join(mins, "node")
        .filter(col("label") =!= col("m"))
        .select(col("label").as("src"), col("m").as("dst")).distinct())
      val comp =
        if (fitsDriver(csig._1)) solveOnDriver(contracted)
        else starLoop(spark, contracted, csig, root, maxRounds, ckptEvery, onRound)
      mins.join(comp.withColumnRenamed("node", "m"), Seq("m"), "left")
        .select(col("node"), coalesce(col("component"), col("m")).as("component"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", origParts)
  }

  /** Large-star / small-star rounds from a min-oriented edge set to the
    * fixpoint; returns (node, component). */
  private def starLoop(spark: SparkSession, start: DataFrame, startSig: (Long, Long),
      root: Option[String], maxRounds: Int, ckptEvery: Int, onRound: Int => Unit): DataFrame = {
    var (cur, sig) = (start, startSig)
    var prevSig = (-1L, 0L)
    var rounds = 0
    // Committed-snapshot durability (opt-in): identify this loop input by
    // its signature; resume from the newest committed round whose manifest
    // lineage carries the same identity.
    val inputId = s"cc-input:${sig._1}:${sig._2}"
    val Stage = "cc_rounds"
    for {
      r <- root
      (path, m) <- graft.ckpt.Snapshots.latest(spark, r, Stage)
      if m.inputs.headOption.contains(inputId)
    } {
      Bridge.unpersistLocalCheckpoint(cur)
      cur = spark.read.parquet(path)
      rounds = m.inputs(1).stripPrefix("round:").toInt
      val s = m.inputs(2).stripPrefix("sig:").split(":")
      sig = (s(0).toLong, s(1).toLong)
    }

    while (sig != prevSig && rounds < maxRounds) {
      prevSig = sig
      val prev = cur
      // exactly ONE alternation per materialization: largeStar/smallStar
      // each read their input several times (union + aggregate + join),
      // so chaining two rounds unmaterialized re-executes the inner
      // round's whole subtree multiplicatively (measured 7x slower)
      val (next, nextSig) = materialize(smallStar(compress(largeStar(cur))))
      // free the previous round's checkpoint blocks: leaving them cached
      // fills the block manager and degrades mid-run rounds 10-20x
      Bridge.unpersistLocalCheckpoint(prev)
      cur = next
      sig = nextSig
      rounds += 1
      onRound(rounds)
      // commit every ckptEvery-th round: re-root the working frame on the
      // committed parquet (lineage + per-partition counters in the
      // manifest) so at most ckptEvery rounds replay after a crash
      root.foreach { r =>
        if (rounds % ckptEvery == 0) {
          val (path, _) = graft.ckpt.Snapshots.commit(cur, r, Stage,
            Seq(inputId, s"round:$rounds", s"sig:${sig._1}:${sig._2}"))
          Bridge.unpersistLocalCheckpoint(cur)
          cur = spark.read.parquet(path)
        }
      }
    }
    require(sig == prevSig,
      s"connected components did not converge in ${maxRounds}x2 rounds")
    // fixpoint: every edge is (node -> component root)
    val members = cur.select(col("src").as("node"), col("dst").as("component"))
    val roots = cur.select(col("dst").as("node"), col("dst").as("component")).distinct()
    members.unionByName(roots).distinct()
  }

  /** Components including isolated nodes (component = the node itself). */
  def runWithIsolated(spark: SparkSession, nodes: DataFrame, edges: DataFrame): DataFrame = {
    val comp = run(spark, edges)
    val named = nodes.select(col(nodes.columns.head).cast("long").as("node")).distinct()
    named.join(comp, Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("component"))
  }
}

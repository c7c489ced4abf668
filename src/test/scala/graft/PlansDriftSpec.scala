package graft

/** PLANS.md drift guard: the dump is hand-refreshed, so before this spec a
  * plan regression could ship behind a stale artifact. Every query section
  * in PLANS.md is regenerated live at the SAME scale factor the dump is
  * generated at (sf0.1 — plan shape is size-dependent through broadcast
  * thresholds, so comparing across SFs would be meaningless) and the
  * structural tree lines are diffed. Node ids are normalized away (a pure
  * renumbering from an unrelated subtree change is not a regression);
  * operator names, ordering, and nesting must match exactly.
  *
  * Both sides come from [[Explain.planSection]], so the dump and this spec
  * print a section the same way.
  *
  * On failure: if the change is INTENDED, regenerate the drifted sections
  * with `tools/replans.sh name1,name2`; if not, the diff in the failure
  * message is the regression.
  */
class PlansDriftSpec extends SparkSpec {

  private val PlanSf = "/root/testdata/sf0.1"

  /** The tree block: lines after "== Physical Plan ==" up to the first
    * blank line (node details below carry run-specific paths/ids and are
    * covered by PlanAssertionsSpec's targeted pins instead).
    */
  private def treeOf(text: String): Seq[String] = {
    val lines = text.linesIterator.toSeq
    val start = lines.indexWhere(_.startsWith("== Physical Plan =="))
    if (start < 0) Seq.empty
    else truncateCached(lines.drop(start + 1).takeWhile(_.trim.nonEmpty))
  }

  /** Treat InMemoryRelation as a LEAF: the plan printed inside a cached
    * substrate is the materialized AQE state of whatever session built
    * it — query-stage boundaries, and even broadcast build SIDES, vary
    * with which sibling substrates were already warm (observed: a
    * BuildLeft/BuildRight flip inside knn-edges-scaled between the
    * Explain JVM and the spec session). What a section pins is the
    * CONSUMER plan; the substrate's own shape is pinned by its builder's
    * section. Children are detected by indentation depth (tree-drawing
    * colons count as indent).
    */
  private def truncateCached(lines: Seq[String]): Seq[String] = {
    def depth(l: String): Int = {
      val i = l.indexWhere(c => c != ' ' && c != ':')
      if (i < 0) Int.MaxValue else i
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    // The cached plan block under an InMemoryRelation prints at depths
    // BETWEEN the owning InMemoryTableScan's and the relation line's
    // (formatted-explain quirk: "== Final Plan ==" headers sit shallower
    // than the relation node), so the skip boundary is the SCAN's depth
    // — everything strictly deeper than the scan, after the relation
    // line, belongs to the cached internals.
    var skipDeeper = -1
    var prevKeptDepth = -1
    // A cached block's "== Final Plan ==" / "== Initial Plan ==" headers
    // print at an arbitrary ANCESTOR depth (observed: the scan's depth,
    // and depths several levels shallower), so a strictly-deeper-only
    // skip RESETS on them and the warmth-dependent AQE internals below
    // leak into the compared tree (round-17: the scaled twins drifted on
    // exactly this). While skipping, a subheader line is always part of
    // the cached block and TIGHTENS the boundary to its own depth — the
    // block's content prints deeper than its header, and the legit
    // resumption line (the next real sibling/ancestor) sits at or above
    // the header.
    def isSubheader(l: String): Boolean =
      l.dropWhile(c => c == ' ' || c == ':' || c == '+' || c == '-').startsWith("== ")
    lines.foreach { l =>
      val d = depth(l)
      if (skipDeeper >= 0 && isSubheader(l)) {
        skipDeeper = math.min(skipDeeper, d) // header of a cached sub-dump
      } else if (skipDeeper >= 0 && d > skipDeeper) {
        () // inside a cached subtree
      } else {
        skipDeeper = -1
        out += l
        if (l.contains("InMemoryRelation")) skipDeeper = prevKeptDepth
        prevKeptDepth = d
      }
    }
    out.toSeq
  }

  private def normalize(l: String): String =
    l.replaceAll("\\(\\d+\\)", "")
      // the per-JVM session token in bucketed table names (graft_bkt_x_s1_…)
      // depends on how many sessions the JVM created before this suite — a
      // forked runner or suite reorder would renumber it without any plan
      // change, so it is normalized like node ids
      .replaceAll("graft_bkt_(\\w+?)_s\\d+_", "graft_bkt_$1_sN_")
      // materialized AQE query stages (TableCacheQueryStage /
      // BroadcastQueryStage over a substrate the session already built)
      // print RUNTIME statistics in the tree line; sizeInBytes varies
      // with cache warmth and JVM memory layout — measurement, not plan
      .replaceAll("Statistics\\([^)]*\\)", "Statistics(…)")
      // cache-serving mode is a runtime measurement, not plan shape
      .replaceAll("\\s*\\(columnarIn=\\w+, columnarOut=\\w+\\)", "")
      .replaceAll("\\s+$", "")

  test("every PLANS.md tree matches a freshly generated plan at sf0.1") {
    // COLD-START the plan generation (round-17): plans over cached
    // substrates are warmth-dependent beyond the InMemoryRelation leaf —
    // the FIRST builder of a substrate fixes its cached output
    // partitioning, and a consumer whose required distribution that
    // partitioning happens to satisfy ELIDES its exchange (observed:
    // textrank_keywords lost a partial-agg Exchange when another suite
    // had built the gram substrate first). So the dump and this spec
    // must see the SAME warmth trajectory: both start cold and build in
    // ALPHABETICAL section order (the dump comes from one bare
    // `graft.Explain /root/testdata/sf0.1` run, which sorts names).
    graft.SubstrateCache.evictSession(spark)
    spark.sharedState.cacheManager.clearCache()
    val md = java.nio.file.Files.readString(java.nio.file.Paths.get("PLANS.md"))
    val sections = md.split("(?m)^########## ").toSeq.drop(1).sortBy(_.takeWhile(_ != ' '))
    assert(sections.nonEmpty, "PLANS.md has no query sections")
    val unknown = sections.map(_.takeWhile(_ != ' ')).filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"PLANS.md names unknown queries: $unknown")
    // Output-schema fingerprint (round-16): a declared dtype change — the
    // round-15 decimal-output driver-gate class — must show up as a
    // reviewable PLANS.md diff, so each section carries a `schema:` line
    // that is diffed like the tree.
    def schemaOf(text: String): String =
      text.linesIterator.find(_.startsWith("schema: ")).getOrElse("<missing>")
    val drifted = sections.flatMap { sec =>
      val name = sec.takeWhile(_ != ' ')
      val fresh = Explain.planSection(spark, PlanSf, name)
      val schemaDrift =
        if (schemaOf(fresh) == schemaOf(sec)) None
        else Some(s"== $name (schema) ==\nfresh:  ${schemaOf(fresh)}\ndumped: ${schemaOf(sec)}")
      val (freshTree, dumpedTree) = (treeOf(fresh).map(normalize), treeOf(sec).map(normalize))
      val treeDrift =
        if (freshTree == dumpedTree) None
        else Some(s"== $name ==\nfresh:\n${freshTree.mkString("\n")}\ndumped:\n${dumpedTree.mkString("\n")}")
      schemaDrift ++ treeDrift
    }
    assert(
      drifted.isEmpty,
      s"${drifted.size} plan(s) drifted from the PLANS.md dump — regenerate it or fix the regression:\n" +
        drifted.mkString("\n\n"),
    )
    val undumped = SparkEntry.queries.keys.toSeq.sorted.diff(sections.map(_.takeWhile(_ != ' ')))
    assert(undumped.isEmpty, s"PLANS.md has no section for: ${undumped.mkString(",")}")
  }
}

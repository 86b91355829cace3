package graft

import org.apache.spark.sql.functions._
import graft.operators.Fleet
import graft.sources.{InvertedIndex, IvfIndex, IvfPqIndex, LshBandIndex, PqIndex}

/** The fleet maintenance walk (r14 verdict next-round #5) must carry the
  * right flags for a store in each lifecycle state — fresh, stale,
  * never-maintained, fragmented — and its fragment arithmetic must match
  * the generational layout of every store family.
  */
class FleetSpec extends SparkSuite {

  private def corpus = Tables.embeddings(spark, sf)
  private def hist = corpus.filter(col("vec_id") % 50 =!= 0)
  private def delta = corpus.filter(col("vec_id") % 50 === 0)
  private def queries = corpus.filter(col("vec_id") < 8)

  test("fresh, stale, never-maintained, and fragmented stores each carry the right flags") {
    val fresh = new IvfIndex(spark, TempDirs.create("fleet-fresh"), nlist = 16)
    fresh.bootstrap(hist)
    fresh.maintain(hist, hist.limit(0), queries, k = 5, recallFloor = 0.9,
      cosineFloor = 0.22, maxFracBelow = 1.0, nprobes = Seq(1, 2, 4, 8, 16))
    val stale = new IvfIndex(spark, TempDirs.create("fleet-stale"), nlist = 16)
    stale.bootstrap(hist)
    stale.maintain(hist, hist.limit(0), queries, k = 5, recallFloor = 0.9,
      cosineFloor = 0.22, maxFracBelow = 1.0, nprobes = Seq(1, 2, 4, 8, 16))
    stale.append(delta) // one ingest past the stamp: the point is stale
    val never = new IvfPqIndex(spark, TempDirs.create("fleet-never"),
      nlist = 8, m = 8, codes = 16)
    never.bootstrap(hist) // point-serving family, no point ever committed
    val frag = new PqIndex(spark, TempDirs.create("fleet-frag"),
      m = 8, codes = 16)
    frag.bootstrap(hist)
    frag.appendBatch(delta.filter(col("vec_id") % 100 === 0), batchId = 0L)
    frag.appendBatch(delta.filter(col("vec_id") % 100 === 50), batchId = 1L)

    val by = Fleet.report(spark,
        Seq(("fresh", fresh), ("stale", stale), ("never", never),
          ("frag", frag)),
        maxLag = 0L, maxFragments = 2)
      .collect().map(r => r.getAs[String]("store") -> r).toMap

    val f = by("fresh")
    assert(!f.getAs[Boolean]("maintenance_due") &&
      !f.getAs[Boolean]("point_stale") && !f.getAs[Boolean]("compaction_due"))
    assert(f.getAs[Long]("lag") === 0L && f.getAs[Long]("fragments") === 1L)
    assert(f.getAs[Int]("nprobe") === fresh.operatingPoint.get)

    val st = by("stale")
    assert(st.getAs[Boolean]("point_stale") && st.getAs[Boolean]("maintenance_due"))
    assert(st.getAs[Long]("lag") === 1L)
    assert(!st.getAs[Boolean]("compaction_due"),
      "two fragments at maxFragments = 2 is not compaction-due")

    val nv = by("never")
    assert(nv.getAs[Boolean]("maintenance_due"),
      "a point-serving store with no committed point has never been maintained")
    assert(!nv.getAs[Boolean]("point_stale") && !nv.getAs[Boolean]("compaction_due"))
    assert(nv.isNullAt(nv.fieldIndex("op_gen")) && nv.isNullAt(nv.fieldIndex("lag")))

    val fr = by("frag")
    assert(fr.getAs[String]("kind") === "pq")
    assert(fr.getAs[Long]("fragments") === 3L)
    assert(fr.getAs[Boolean]("compaction_due") && fr.getAs[Boolean]("maintenance_due"))
    assert(!fr.getAs[Boolean]("point_stale"),
      "a family without point semantics is never point-stale or " +
        "never-maintained — fragmentation is its only due signal")

    // compaction folds the fragmented store back to healthy
    frag.compact()
    val after = Fleet.report(spark, Seq(("frag", frag)), 0L, 2).collect().head
    assert(after.getAs[Long]("fragments") === 1L)
    assert(!after.getAs[Boolean]("compaction_due") &&
      !after.getAs[Boolean]("maintenance_due"))
  }

  test("maintainAll acts on due stores only; a failed remedy stays visible as due_after") {
    // skipped store: healthy (lag 0, one fragment) — its action must
    // never run, which the throwing thunk proves
    val ok = new IvfIndex(spark, TempDirs.create("fleet-mt-ok"), nlist = 16)
    ok.bootstrap(hist)
    ok.maintain(hist, hist.limit(0), queries, k = 5, recallFloor = 0.9,
      cosineFloor = 0.22, maxFracBelow = 1.0, nprobes = Seq(16))
    // acted store 1: stale + fragmented; the remedy revalidates on the
    // grown corpus, commits, and compacts in one maintain() call
    val st = new IvfIndex(spark, TempDirs.create("fleet-mt-stale"), nlist = 16)
    st.bootstrap(hist)
    st.maintain(hist, hist.limit(0), queries, k = 5, recallFloor = 0.9,
      cosineFloor = 0.22, maxFracBelow = 1.0, nprobes = Seq(16))
    st.append(delta)
    // acted store 2: fragmented text index, remedy = compact
    val docs = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    val inv = new InvertedIndex(spark, TempDirs.create("fleet-mt-inv"))
    inv.bootstrap(docs.filter(col("doc_id") < 250))
    inv.append(docs.filter(col("doc_id") >= 250))
    // acted store 3: due, but the remedy is a NO-OP — due_after must
    // stay true (a failed remedy is never reported as health)
    val bad = new InvertedIndex(spark, TempDirs.create("fleet-mt-bad"))
    bad.bootstrap(docs.filter(col("doc_id") < 250))
    bad.append(docs.filter(col("doc_id") >= 250))

    val by = Fleet.maintainAll(spark,
        Seq(
          Fleet.Entry("ok", ok, () =>
            fail("healthy store must not be acted on")),
          Fleet.Entry("stale", st, () =>
            st.maintain(corpus, delta, queries, k = 5, recallFloor = 0.9,
              cosineFloor = 0.22, maxFracBelow = 1.0,
              nprobes = Seq(1, 2, 4, 8, 16), compactAbove = 1).serving),
          Fleet.Entry("inv", inv, () => { inv.compact(); inv }),
          Fleet.Entry("bad", bad, () => bad)),
        maxLag = 0L, maxFragments = 1)
      .collect().map(r => r.getAs[String]("store") -> r).toMap

    val o = by("ok")
    assert(!o.getAs[Boolean]("maintenance_due") && !o.getAs[Boolean]("due_after"))
    assert(o.getAs[Long]("lag_before") === 0L && o.getAs[Long]("lag_after") === 0L)
    assert(o.getAs[Int]("nprobe") === ok.operatingPoint.get)

    val s = by("stale")
    assert(s.getAs[Boolean]("maintenance_due") && !s.getAs[Boolean]("due_after"))
    assert(s.getAs[Long]("lag_before") === 1L && s.getAs[Long]("lag_after") === 0L)
    assert(s.getAs[Long]("fragments_before") === 2L &&
      s.getAs[Long]("fragments_after") === 1L)
    assert(s.getAs[Int]("nprobe") === st.operatingPoint.get)

    val i = by("inv")
    assert(i.getAs[Boolean]("maintenance_due") && !i.getAs[Boolean]("due_after"))
    assert(i.getAs[Long]("fragments_before") === 2L &&
      i.getAs[Long]("fragments_after") === 1L)
    assert(i.isNullAt(i.fieldIndex("lag_before")) &&
      i.isNullAt(i.fieldIndex("nprobe")))

    val b = by("bad")
    assert(b.getAs[Boolean]("maintenance_due") && b.getAs[Boolean]("due_after"),
      "a due store whose action changed nothing must still read as due")
    assert(b.getAs[Long]("fragments_after") === 2L)
  }

  test("maintainAll overlaps due stores' actions on per-pool driver threads (r16 verdict #4)") {
    // two fragmented text stores, both due; each action rendezvouses on a
    // barrier BEFORE doing its compact — if maintainAll still ran actions
    // serially the barrier would time out, so passing proves the sweeps
    // genuinely overlap. Each action also records the FAIR pool its
    // driver thread was pinned to.
    val docs = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    def fragged(tag: String): InvertedIndex = {
      val i = new InvertedIndex(spark, TempDirs.create(s"fleet-par-$tag"))
      i.bootstrap(docs.filter(col("doc_id") < 250))
      i.append(docs.filter(col("doc_id") >= 250))
      i
    }
    val x = fragged("x"); val y = fragged("y")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val pools = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def act(name: String, st: InvertedIndex): () => InvertedIndex = () => {
      pools.put(name,
        String.valueOf(spark.sparkContext.getLocalProperty("spark.scheduler.pool")))
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      st.compact(); st
    }
    val rows = Fleet.maintainAll(spark,
        Seq(Fleet.Entry("x", x, act("x", x)), Fleet.Entry("y", y, act("y", y))),
        maxLag = 0L, maxFragments = 1)
      .collect().map(r => r.getAs[String]("store") -> r).toMap
    // same before/after evidence as the serial walk
    for (n <- Seq("x", "y")) {
      assert(rows(n).getAs[Boolean]("maintenance_due"))
      assert(rows(n).getAs[Long]("fragments_before") === 2L &&
        rows(n).getAs[Long]("fragments_after") === 1L)
      assert(!rows(n).getAs[Boolean]("due_after"))
    }
    // per-pool pinning: each action saw its own store-named FAIR pool
    assert(pools.get("x") === "fleet-x" && pools.get("y") === "fleet-y")
  }

  test("maintainAll and SweepFanout cap their fan-out pools at the session's parallelism (r17 verdict #4)") {
    val par = spark.sparkContext.defaultParallelism
    val docs = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    val store = new InvertedIndex(spark, TempDirs.create("fleet-cap"))
    store.bootstrap(docs.filter(col("doc_id") < 250))
    store.append(docs.filter(col("doc_id") >= 250)) // fragmented: due
    val inflight = new java.util.concurrent.atomic.AtomicInteger()
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger()
    def act(): InvertedIndex = {
      val n = inflight.incrementAndGet()
      maxSeen.updateAndGet(m => math.max(m, n))
      Thread.sleep(150)
      inflight.decrementAndGet()
      store
    }
    // more due entries than cores: the pool must bound concurrency at the
    // session's parallelism (excess actions queue and run in waves), never
    // one unbounded thread + job group per due store
    val entries = (1 to par + 2).map(i => Fleet.Entry(s"s$i", store, () => act()))
    Fleet.maintainAll(spark, entries, maxLag = 0L, maxFragments = 1)
    assert(maxSeen.get >= 1 && maxSeen.get <= par,
      s"fleet fan-out ran ${maxSeen.get} actions concurrently on a $par-core session")
    // the sweep fan-out follows the same cap discipline
    inflight.set(0); maxSeen.set(0)
    graft.sources.SweepFanout.foreach(1 to par + 2)(_ => { act(); () })
    assert(maxSeen.get >= 1 && maxSeen.get <= par,
      s"sweep fan-out ran ${maxSeen.get} settings concurrently on a $par-core session")
  }

  test("SweepFanout runs every setting when no session is active or default") {
    import org.apache.spark.sql.SparkSession
    val active = SparkSession.getActiveSession
    val default = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      graft.sources.SweepFanout.foreach(1 to 3)(i => { seen.add(i); () })
      assert(seen.toArray.toSeq.sortBy(_.asInstanceOf[Int]) === Seq(1, 2, 3))
    } finally {
      default.foreach(SparkSession.setDefaultSession)
      active.foreach(SparkSession.setActiveSession)
    }
  }

  test("inverted/lsh fragment arithmetic matches the generational layout") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    val cut = 250L
    val inv = new InvertedIndex(spark, TempDirs.create("fleet-spec-inv"))
    inv.bootstrap(docs.filter(col("doc_id") < cut))
    assert(inv.fragmentCount === 1L)
    inv.append(docs.filter(col("doc_id") >= cut))
    assert(inv.fragmentCount === 2L)
    assert(inv.compactionDue(1) && !inv.compactionDue(2))
    inv.compact(buckets = 2)
    assert(inv.fragmentCount === 1L && !inv.compactionDue(1))
    val row = Fleet.report(spark, Seq(("inv", inv)), 0L, 1).collect().head
    assert(row.getAs[String]("kind") === "inverted")
    assert(!row.getAs[Boolean]("point_stale") &&
      !row.getAs[Boolean]("maintenance_due"))

    val lsh = new LshBandIndex(spark, TempDirs.create("fleet-spec-lsh"))
    lsh.bootstrap(docs.filter(col("doc_id") < cut))
    assert(lsh.fragmentCount === 1L)
    val lrow = Fleet.report(spark, Seq(("lsh", lsh)), 0L, 1).collect().head
    assert(lrow.getAs[String]("kind") === "lsh")
    assert(lrow.isNullAt(lrow.fieldIndex("nprobe")))
    assert(!lrow.getAs[Boolean]("maintenance_due"))
  }
}

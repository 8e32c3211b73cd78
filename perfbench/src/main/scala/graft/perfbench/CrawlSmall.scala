package graft.perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.frontier._

/** `crawl-small`: the crawl loop on `Corpus.small` (256 hosts, ~5.9k
  * pages), seeded with a seed-chosen set of host roots.
  *
  * Each iteration schedules about a hundred URLs (politeness admits
  * about one per IP per iteration), so the per-iteration fixed cost
  * dominates: Spark jobs, state writes, snapshot commits, and compaction
  * every other iteration (the write-heavy use of `frontier`). */
object CrawlSmall {
  val spec: Corpus.Spec = Corpus.small
  val cfg: Crawl.Config = Crawl.Config(clockStepMs = 60000L, seenBuckets = 8)
  val CompactEvery = 2
  /** Roots seeded per host class (hosts k ≡ r mod 16 share a shape). */
  val RootsPerClass = 8
  /** Nominal seconds of one iteration; the timed crawl runs
    * round(seconds / NominalIterS) iterations (at least one), a count
    * fixed by the arguments alone so every build does the same work. */
  val NominalIterS = 10.0
  /** The request flags that make two records of one url coexist through
    * compaction (the signature `Crawl.compact` keys on). */
  val CompactSigMask: Long = Flags.IsNewOutlink | Flags.IsInjecting | Flags.IsAddUrl |
    Flags.IsPageReindex | Flags.HasContent | Flags.ForceDelete

  /** Seed-chosen roots, stratified so every seed crawls the same mix of
    * host shapes (robots, feeds, charsets, redirects, shared IPs). */
  def seedUrls(seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (0 until 16).flatMap { r =>
      rnd.shuffle((0 until spec.nHosts / 16).toList).take(RootsPerClass).map(j => 16 * j + r)
    }.map(k => s"http://${Corpus.host(k)}/")
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val wd = ctx.args.work.resolve("crawl").toString
    val seeds = seedUrls(ctx.args.seed)
    val n = math.max(1, math.round(ctx.args.seconds / NominalIterS).toInt)
    // One call runs the warm-up iteration (the seeds) and then the timed
    // ones: the timed window opens when iteration 1 commits, so the timed
    // iterations run on the same session path as the warm-up did.
    val iters = ctx.span("frontier.run")(Crawl.run(spark, wd, spec, 1 + n, cfg, CompactEvery, seeds))
    val endMs = System.currentTimeMillis()
    def commitMs(i: Int) = new File(s"${Crawl.snapDir(wd, i)}/MANIFEST.json").lastModified()
    val first = 2
    val last = Crawl.latestSnapshot(wd).get
    val openMs = commitMs(first - 1)
    val loopS = (endMs - openMs) / 1e3
    val jobs = ctx.tracer.jobsStarted(spark.sparkContext, openMs, endMs)
    res.attempted = n
    res.digestKey = s"${ctx.args.seed}/n=$n"
    val scheduled = iters.drop(1).map(_.scheduled).sum
    res.metric("setup_s", ctx.setupSeconds(openMs), "s")
    res.metric("pass_s", loopS, "s")
    res.metric("items_per_s", scheduled / loopS, "1/s")
    res.metric("spark_jobs_per_op", jobs.toDouble / n, "count")

    // ---- output checks
    val timed = first to last
    val lastCompacted = timed.filter(_ % CompactEvery == 0).lastOption
    val reqs = lastCompacted.map(c => Crawl.loadRequests(spark, wd, c).toDF())
    reqs.foreach { r0 =>
      val r = if (ctx.corrupt("compact-dup")) r0.union(r0.limit(1)) else r0
      // compaction's own key: a url keeps one record per (first_ip, uh48)
      // unless its coexistence signature differs (Crawl.compact)
      val dups = r.groupBy(col("first_ip"), col("uh48"), col("site_hash32"), col("hop_count"),
        col("flags").bitwiseAND(lit(CompactSigMask))).count().filter(col("count") > 1).count()
      res.check("compacted_frontier_unique", dups == 0,
        s"(first_ip, uh48, signature) keys seen more than once after compaction at ${lastCompacted.get}: $dups", n)
    }
    val log0 = timed.map(i => spark.read.parquet(s"${Crawl.snapDir(wd, i)}/fetch_log")).reduce(_ unionByName _)
    val log = if (ctx.corrupt("fetch-log")) log0.filter(pmod(xxhash64(col("url")), lit(7)) =!= 0) else log0
    val logRows = log.count()
    res.check("fetch_log_rows", logRows == scheduled, s"fetch_log rows $logRows vs scheduled $scheduled", n)

    val st = Crawl.loadLoopState(spark, wd, last, cfg)
    val seedUh = seeds.flatMap(Crawl.seedRequest(_, 0L)).map(_.uh48)
    val seen0 = st.seenUh48.select("uh48")
    val seen = if (ctx.corrupt("seen-seed")) seen0.filter(col("uh48") =!= seedUh.head) else seen0
    val seedsSeen = seedUh.toDF("uh48").join(seen, Seq("uh48"), "left_semi").count()
    res.check("seeds_in_seen_set", seedsSeen == seedUh.size, s"$seedsSeen of ${seedUh.size} seed uh48s seen", n)

    // the compiled scheduler against the reference-exact interpreter, on
    // the final frontier
    val winnerCols = Seq("uh48", "first_ip", "seq_in_ip", "priority", "ufn", "spider_time_ms")
    val compiled = Digest.of(Crawl.schedule(st.requests, st.replies, st.ipState, st.domState, cfg,
      last + 1, st.inlinks, st.quotaState).toDF(), winnerCols)
    val interp0 = Crawl.scheduleInterpreted(st.requests, st.replies, st.ipState, st.domState, cfg,
      last + 1, st.inlinks, st.quotaState).toDF()
    val interp = if (ctx.corrupt("schedule-interp")) interp0.withColumn("seq_in_ip", col("seq_in_ip") + 1) else interp0
    val interpreted = Digest.of(interp, winnerCols)
    res.check("schedule_matches_interpreter", compiled == interpreted,
      s"compiled winners $compiled vs interpreted $interpreted", n)

    val order = if (ctx.corrupt("crawl-digest")) log.withColumn("seq", col("seq") + 1) else log
    res.digests += "crawl_order" -> Digest.of(order, Seq("iteration", "first_ip", "seq", "url", "err_code"))
    res.digests += "seen_set" -> Digest.of(seen, Seq("uh48"))

    // ---- end-to-end facts read from outside after the run
    val bounds = (first - 1 to last).map(commitMs)
    val intervals = bounds.zip(bounds.tail).map { case (a, b) => (b - a) / 1e3 }
    val stateMb = Disk.mb(wd)

    if (ctx.args.trace) {
      res.metric("trace.pass_s", loopS, "s")
      res.metric("frontier.commit_interval_s_p50", Stats.median(intervals), "s")
      res.metric("frontier.state_mb", stateMb, "MB")
      val runJobs = ctx.tracer.allJobs(spark.sparkContext)
      val bins = bounds.zip(bounds.tail).map { case (a, b) =>
        Counters.of((b - a) / 1e3, runJobs.filter(j => j.startMs >= a && j.startMs < b))
      }
      def med(f: Counters => Double) = Stats.median(bins.map(f))
      res.metric("frontier.iteration.jobs", med(_.jobs.toDouble), "count")
      res.metric("frontier.iteration.tasks", med(_.tasks.toDouble), "count")
      res.metric("frontier.iteration.task_busy_frac", med(_.busyFrac(ctx.cores)), "fraction")
      res.metric("frontier.iteration.gc_s", med(_.gcS), "s")
      res.metric("frontier.iteration.shuffle_mb", med(_.shuffleMb), "MB")
      res.metric("frontier.iteration.spill_mb", med(_.spillMb), "MB")
      // the compaction replay needs a snapshot the loop did not compact
      val uncompacted = (first - 1 to last).filter(_ % CompactEvery != 0).last
      Replay.layers(ctx, res, wd, last, uncompacted)
      Replay.winnerDole(ctx, res, Crawl.loadRequests(spark, wd, last).toDF())
      Kernels.measure(res)
    }
  }
}

/** The traced run's per-layer replay: the calls one iteration makes,
  * made again from outside against the committed snapshots, each in its
  * own span. */
object Replay {
  import CrawlSmall.{cfg, spec}

  def layers(ctx: Ctx, res: Result, wd: String, last: Int, uncompacted: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val s = last - 1 // the last timed iteration read this snapshot
    val it = last

    val (st, loadRows) = ctx.span("frontier.load") {
      val st = Crawl.loadLoopState(spark, wd, s, cfg)
      val tables: Seq[DataFrame] = Seq(st.requests.toDF(), st.replies.toDF(), st.ipState.toDF(),
        st.domState.toDF(), st.inlinks.toDF(), st.tagState.toDF(), st.quotaState, st.ipCounts,
        st.titleVecs, st.seenUh48, st.bloom) ++ st.ipNext.toSeq
      (st, tables.map(_.count()).sum)
    }
    val load = ctx.spans.counters("frontier.load")
    res.metric("frontier.load.s", load.wallS, "s")
    res.metric("frontier.load.rows", loadRows.toDouble, "count")

    val rowsIn = st.requests.count()
    val batch = ctx.span("frontier.schedule") {
      val so = Crawl.scheduleWake(st.requests, st.replies, st.ipState, st.domState, cfg, it,
        st.inlinks, st.quotaState, st.ipNext)
      val b = so.dole.filter(col("seq_in_ip") >= 0).as[FetchTask].persist(StorageLevel.MEMORY_AND_DISK)
      b.count()
      b
    }
    val sched = ctx.spans.counters("frontier.schedule")
    res.metric("frontier.schedule.s", sched.wallS, "s")
    res.metric("frontier.schedule.rows_in", rowsIn.toDouble, "count")
    res.metric("frontier.schedule.winners", batch.count().toDouble, "count")
    res.metric("frontier.schedule.jobs", sched.jobs.toDouble, "count")
    res.metric("frontier.schedule.shuffle_mb", sched.shuffleMb, "MB")
    res.metric("frontier.schedule.spill_mb", sched.spillMb, "MB")

    val pages = Corpus.pages(spark, spec).persist(StorageLevel.MEMORY_AND_DISK)
    pages.count()
    val robots = Corpus.robots(spark, spec)
    val hostMeta = Corpus.hostMeta(spark, spec)
    val redir = Crawl.redirectClosure(Corpus.redirects(spark, spec)).persist(StorageLevel.MEMORY_AND_DISK)
    redir.count()
    val results = ctx.span("frontier.fetch") {
      val r = Crawl.fetch(batch, pages, robots, cfg, it, redir, st.titleVecs)
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    val f = results.toDF().agg(count(lit(1)),
      sum(when(col("errCode") === Errs.EDOCDISALLOWED, 1L).otherwise(0L)),
      coalesce(sum(size(col("outlinks")).cast("long")), lit(0L))).collect().head
    res.metric("frontier.fetch.s", ctx.spans.counters("frontier.fetch").wallS, "s")
    res.metric("frontier.fetch.pages", f.getLong(0).toDouble, "count")
    res.metric("frontier.fetch.robots_denied", Option(f.get(1)).map(_.toString.toDouble).getOrElse(0.0), "count")
    res.metric("frontier.fetch.outlinks", f.getLong(2).toDouble, "count")

    val resolved = ctx.span("frontier.resolve") {
      val r = Crawl.resolveOutlinks(results, hostMeta, st.tagState).persist(StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    res.metric("frontier.resolve.s", ctx.spans.counters("frontier.resolve").wallS, "s")
    res.metric("frontier.resolve.outlinks", resolved.count().toDouble, "count")

    // admission over the distinct outlink targets: bloom tag, then the
    // exact anti-join for bloom positives only
    val cands = resolved.select("req.*").as[FrontierRequest].dropDuplicates("uh48")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nCands = cands.count()
    val tagged = SeenBloom.tagged(cands, st.bloom, cfg.seenBuckets).persist(StorageLevel.MEMORY_AND_DISK)
    val (positives, admitted) = ctx.span("frontier.admit") {
      (tagged.filter(_._2).count(), Crawl.admitTagged(tagged, st.seenUh48).count())
    }
    val seenHits = cands.toDF().join(st.seenUh48.select("uh48"), Seq("uh48"), "left_semi").count()
    res.metric("frontier.admit.s", ctx.spans.counters("frontier.admit").wallS, "s")
    res.metric("frontier.admit.candidates", nCands.toDouble, "count")
    res.metric("frontier.admit.bloom_positive", positives.toDouble, "count")
    res.metric("frontier.admit.admitted", admitted.toDouble, "count")
    val notSeen = nCands - seenHits
    res.metric("frontier.admit.bloom_fpp",
      if (notSeen > 0) (positives - seenHits).toDouble / notSeen else 0.0, "fraction")

    // compaction of the latest snapshot the loop left uncompacted (its
    // delta chain still unmerged), on a copy of the workdir; rewritten
    // bytes are those of the files compaction created or replaced
    val copy = ctx.args.work.resolve("crawl-compact")
    Disk.copyTree(new File(wd).toPath, copy)
    val snap = new File(Crawl.snapDir(copy.toString, uncompacted))
    val before = Disk.files(snap)
    ctx.span("frontier.compact")(Crawl.compact(spark, copy.toString, uncompacted, cfg))
    val rewritten = Disk.files(snap).filter { case (p, v) => !before.get(p).contains(v) }
    val comp = ctx.spans.counters("frontier.compact")
    res.metric("frontier.compact.s", comp.wallS, "s")
    res.metric("frontier.compact.jobs", comp.jobs.toDouble, "count")
    res.metric("frontier.compact.rewritten_mb", rewritten.values.map(_._1).sum / (1024.0 * 1024.0), "MB")
    Seq(pages, redir, batch, results, resolved, cands, tagged).foreach(_.unpersist())
  }

  /** `plans.winner_dole.s`: the dole operator alone, over a 12-column
    * projection of the frontier (priority drawn from the uh48 hash). */
  def winnerDole(ctx: Ctx, res: Result, requests: DataFrame): Unit = {
    val in = requests.select(col("first_ip"), col("uh48"), col("url"),
      pmod(xxhash64(col("uh48")), lit(100)).cast("int").as("priority"), lit(0).as("ufn"),
      (col("added_time") * 1000L).as("spider_time_ms"), col("hop_count"), lit(7).as("ip_max"),
      lit(false).as("was_indexed_in"), col("flags"), col("site_hash32"), col("dom_hash32"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    in.count()
    ctx.span("plans.winner_dole")(Digest.of(graft.plans.WinnerDole(in, 7, 2000), Seq("uh48", "seq_in_ip")))
    res.metric("plans.winner_dole.s", ctx.spans.counters("plans.winner_dole").wallS, "s")
    in.unpersist()
  }
}

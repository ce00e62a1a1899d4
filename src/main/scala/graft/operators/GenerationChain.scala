package graft.operators

import java.nio.file.{Files, Paths, FileAlreadyExistsException, NoSuchFileException}

/** Single-writer-per-slot fence for index GENERATION chains — the
  * concurrency contract the streaming folds' chains
  * ([[graft.streaming.StreamPipelines.Generations]]) assume but never
  * enforce (round-15 verdict: "a compaction racing a live fold can
  * silently orphan a generation").
  *
  * Every index family's maintenance is a linear chain of full-state
  * generations: a fold (streaming insert/delete batch) reads the head
  * generation and writes the next; a compaction reads the head (or the
  * whole chain) and writes the next. With ONE writer — the streaming
  * query's own commit thread, the reference's operating model and the
  * documented default — batch-id keying already makes this safe and
  * replay-idempotent. With TWO writers (an out-of-band compactor racing
  * the live fold), both can read head `v` and both write `v+1`: one
  * overwrites the other and the loser's work is silently orphaned — the
  * lost-update anomaly, not a crash.
  *
  * The fix is the doc-sink's claim-CAS + fence
  * ([[graft.connector.GraftDocLog]] `_claim_<seq>`), applied to
  * generation slots:
  *
  *   - a writer CLAIMS slot `head+1` by an atomic create-exclusive of
  *     `claim_<v>` (POSIX O_CREAT|O_EXCL via NIO — genuinely atomic on
  *     the local filesystem, unlike Hadoop's LocalFS
  *     `create(overwrite=false)`, which is exists-check-then-truncate;
  *     on HDFS the same protocol rides `create(overwrite=false)`, on
  *     object stores a conditional PUT — the one primitive every slot
  *     protocol reduces to);
  *   - exactly one racer wins; the loser WAITS for the winner's
  *     `done_<v>` commit marker and then claims `v+2` — so a fold
  *     racing a compaction folds AGAINST the compacted generation
  *     instead of on top of a torn one, and vice versa. The chain
  *     stays linear by construction: every committed generation's
  *     basis is exactly the previous head (linearizability, proved by
  *     `GenerationFenceSpec` replaying the committed order serially);
  *   - a claim without its commit marker older than `graceMs` is a
  *     CRASHED writer: it is deleted and the slot re-claimed, so a dead
  *     compactor can never wedge the live fold (the doc-sink's
  *     skipped-forever rule, generation edition). Writers whose work
  *     can stall longer than the grace must re-claim before committing
  *     — the same contract the doc-sink's writer fence states.
  *
  * Generations are FULL states (the graph chains write the whole merged
  * graph per fold), so serving reads the head generation only and
  * compaction's value is file reclamation + quality reset — nothing
  * here changes what a generation contains, only who may write the next
  * one. */
object GenerationChain {

  /** Committed head of the chain: the highest slot with a `done_<v>`
    * marker, -1 for an empty chain. */
  def latest(root: String): Int = {
    import scala.jdk.CollectionConverters._
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return -1
    val it = Files.list(dir)
    try it.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("done_") => s.stripPrefix("done_").toInt }
      .foldLeft(-1)(math.max)
    finally it.close()
  }

  def genPath(root: String, v: Int): String = s"$root/gen_$v"
  private def claimPath(root: String, v: Int) = Paths.get(s"$root/claim_$v")
  private def donePath(root: String, v: Int) = Paths.get(s"$root/done_$v")

  private def tryClaim(root: String, v: Int): Boolean =
    try { Files.createFile(claimPath(root, v)); true }
    catch {
      case _: FileAlreadyExistsException => false
      case _: NoSuchFileException => false // root raced away
    }

  /** Claim the next generation slot. Returns `(slot, basis)`: the caller
    * must derive its output from generation `basis` (= slot - 1; -1 =
    * build from scratch) and publish it at [[genPath]]`(root, slot)`,
    * then [[commit]]. Blocks while another writer holds the next slot
    * live (its claim younger than `graceMs`), steps over stale claims,
    * and throws after `timeoutMs` so a pathological pile-up is loud. */
  def claimNext(root: String, graceMs: Long = 300000L,
      timeoutMs: Long = 600000L): (Int, Int) = {
    Files.createDirectories(Paths.get(root))
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline) {
      val head = latest(root)
      val next = head + 1
      if (tryClaim(root, next)) return (next, head)
      // slot owned: committed already (head will advance on re-read),
      // live (wait), or stale (crashed writer — delete and retry)
      val claim = claimPath(root, next)
      val ageMs =
        try (System.currentTimeMillis() -
          Files.getLastModifiedTime(claim).toMillis)
        catch { case _: java.io.IOException => -1L } // vanished: retry now
      if (ageMs > graceMs) {
        // crashed writer: remove the corpse (exclusively — double delete
        // is fine, createFile re-races the slot atomically either way)
        try Files.deleteIfExists(claim)
        catch { case _: java.io.IOException => () }
      } else Thread.sleep(25)
    }
    throw new IllegalStateException(
      s"GenerationChain: could not claim a slot under $root within " +
        s"$timeoutMs ms — a writer is livelocked or the grace window " +
        "is far larger than real fold latency")
  }

  /** Publish the claimed slot: the generation's files must already be
    * fully written at [[genPath]]. After this, `latest` advances and
    * waiting racers proceed against THIS generation. */
  def commit(root: String, v: Int): Unit = {
    try Files.createFile(donePath(root, v))
    catch { case _: FileAlreadyExistsException => () } // replay: same content
  }
}

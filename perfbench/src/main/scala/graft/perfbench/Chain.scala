package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded synthetic Solana chain in the `getBlock` `jsonParsed` shape.
  *
  * Block shape is fixed; the seed drives only the random draws:
  * about 100 transactions per block, 1-4 instructions each, about a
  * third carrying token balances, about 5% failed, Zipf-skewed wallets,
  * programs and mints, about 1% skipped slots, both `accountKeys`
  * shapes (plain strings and `{"pubkey": ...}` objects) and 400-ms
  * block times, so a run lands in one date partition.
  *
  * Every block is a pure function of (seed, slot), and the ground
  * truth is counted while the block is generated, never by parsing it
  * back, so the checks do not depend on the program's parser.
  */
final class Chain(seed: Long) {
  import Chain._

  /** Slot 0 sits at 2024-01-16T01:00:00Z; 400-ms slots keep the first
    * 200k slots inside that UTC date. */
  val genesisMs: Long = 1705366800000L

  /** The analytics anchor: the end of the chain's date, so "today",
    * "this week" and "this month" all cover the whole chain. */
  val anchor: java.sql.Timestamp = new java.sql.Timestamp(1705449599000L)

  def blockTimeSec(slot: Long): Long = (genesisMs + slot * 400L) / 1000L

  private def rng(slot: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + slot)

  def skipped(slot: Long): Boolean = new SplittableRandom(seed ^ (slot * 0xC2B2AE3D27D4EB4FL)).nextInt(100) == 0

  /** The JSON-RPC response body for `getBlock(slot)`, with its truth. */
  def render(slot: Long): (Array[Byte], BlockTruth) = {
    if (skipped(slot))
      return (s"""{"jsonrpc":"2.0","result":null,"id":1}""".getBytes(UTF_8),
        BlockTruth.skipped(slot))
    val r = rng(slot)
    val sb = new java.lang.StringBuilder(64 * 1024)
    val truth = new BlockTruth(slot)
    sb.append("""{"jsonrpc":"2.0","result":{"blockTime":""").append(blockTimeSec(slot))
      .append(""","blockhash":"""").append(key("B", slot * 7919L + seed, 44))
      .append("""","parentSlot":""").append(slot - 1)
      .append(""","previousBlockhash":"""").append(key("B", (slot - 1) * 7919L + seed, 44))
      .append("""","transactions":[""")
    val nTx = 90 + r.nextInt(21)
    var t = 0
    while (t < nTx) {
      if (t > 0) sb.append(',')
      tx(sb, r, slot, t, truth)
      t += 1
    }
    sb.append("]},\"id\":1}")
    (sb.toString.getBytes(UTF_8), truth)
  }

  private def tx(sb: java.lang.StringBuilder, r: SplittableRandom, slot: Long, t: Int,
      truth: BlockTruth): Unit = {
    val wallet = WalletNames(Wallets.draw(r))
    val other = WalletNames(Wallets.draw(r))
    val failed = r.nextInt(100) < 5
    val nIns = 1 + r.nextInt(4)
    val withBalances = r.nextInt(3) == 0
    val objectKeys = r.nextBoolean()
    sb.append("""{"meta":{"err":""")
    if (failed) sb.append("""{"InstructionError":[0,{"Custom":""").append(r.nextInt(40)).append("}]}")
    else sb.append("null")
    sb.append(""","fee":""").append(5000 + 5000 * r.nextInt(3))
      .append(""","logMessages":["Program log: """).append(if (failed) "failed" else "ok")
      .append("\"" + """],"postTokenBalances":[""")
    val transfers = if (withBalances) 1 + r.nextInt(2) else 0
    val pre = new java.lang.StringBuilder
    var b = 0
    while (b < transfers) {
      val mint = MintNames(Mints.draw(r))
      val owner = if (b == 0) other else wallet
      val decimals = if (r.nextInt(4) == 0) 9 else 6
      if (b > 0) { sb.append(','); pre.append(',') }
      balance(sb, b + 1, mint, owner, 1 + r.nextInt(1000000), decimals)
      balance(pre, b + 1, mint, owner, r.nextInt(1000000), decimals)
      truth.transfer(mint, owner)
      b += 1
    }
    sb.append("""],"preTokenBalances":[""").append(pre)
      .append("""]},"transaction":{"message":{"accountKeys":[""")
    if (objectKeys)
      sb.append("""{"pubkey":"""").append(wallet).append("""","signer":true},{"pubkey":"""")
        .append(other).append("""","signer":false}""")
    else sb.append('"').append(wallet).append("\",\"").append(other).append('"')
    sb.append("""],"instructions":[""")
    var i = 0
    while (i < nIns) {
      val program = ProgramNames(Programs.draw(r))
      if (i > 0) sb.append(',')
      sb.append("""{"accounts":["""").append(if (r.nextBoolean()) wallet else other)
        .append("\"" + """],"data":"""").append(key("D", r.nextLong(), 4 + r.nextInt(12)))
        .append("""","programId":"""").append(program).append("\"" + """}""")
      truth.instruction(program)
      i += 1
    }
    sb.append("""]},"signatures":["""").append(key("S", slot * 1000L + t + seed * 31L, 88))
      .append("\"" + """]}}""")
    truth.tx(wallet, failed)
  }

  private def balance(sb: java.lang.StringBuilder, idx: Int, mint: String, owner: String,
      amount: Long, decimals: Int): Unit =
    sb.append("""{"accountIndex":""").append(idx).append(""","mint":"""").append(mint)
      .append("""","owner":"""").append(owner)
      .append("""","uiTokenAmount":{"amount":"""")
      .append(amount).append("""","decimals":""").append(decimals)
      .append(""","uiAmountString":"""").append(amount.toDouble / math.pow(10, decimals))
      .append(""""}}""")
}

object Chain {
  private val Alphabet = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"

  /** A base58-looking key of `len` characters, a pure function of `n`. */
  def key(prefix: String, n: Long, len: Int): String = {
    val sb = new java.lang.StringBuilder(len)
    sb.append(prefix)
    var x = n * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    while (sb.length < len) {
      x ^= x >>> 31; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 29
      sb.append(Alphabet.charAt(java.lang.Math.floorMod(x, 58L).toInt))
    }
    sb.toString
  }

  /** Zipf(s) over ranks 1..n, drawn by binary search on the CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  val Wallets = new Zipf(20000, 1.05)
  val Programs = new Zipf(300, 1.2)
  val Mints = new Zipf(600, 1.1)
  val WalletNames: Array[String] = Array.tabulate(20000)(i => key("W", i.toLong, 44))
  /** Rank 0 and 2 are the SPL token programs, so token instructions are common. */
  val ProgramNames: Array[String] = Array.tabulate(300) {
    case 0 => "TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"
    case 2 => "TokenzQdBNbLqP5VEhdkAS6EPFLC1PHnBqCXEpPxuEb"
    case i => key("P", 1000L + i, 43)
  }
  val MintNames: Array[String] = Array.tabulate(600)(i => key("M", 5000L + i, 44))
}

/** What one block contributes to the fact table and the analytics
  * tables, counted by the generator. */
final class BlockTruth(val slot: Long) {
  var isSkipped = false
  var txs = 0
  var failed = 0
  var events = 0
  val walletTx = scala.collection.mutable.HashMap.empty[String, Int]
  val programEvents = scala.collection.mutable.HashMap.empty[String, Int]
  val mints = scala.collection.mutable.HashSet.empty[String]
  val receivers = scala.collection.mutable.HashSet.empty[String]
  var transfers = 0

  def tx(wallet: String, isFailed: Boolean): Unit = {
    txs += 1; events += 1
    if (isFailed) failed += 1
    walletTx(wallet) = walletTx.getOrElse(wallet, 0) + 1
  }
  def instruction(program: String): Unit = {
    events += 1
    programEvents(program) = programEvents.getOrElse(program, 0) + 1
  }
  def transfer(mint: String, owner: String): Unit = {
    events += 1; transfers += 1
    mints += mint; receivers += owner
  }
}

object BlockTruth {
  def skipped(slot: Long): BlockTruth = { val t = new BlockTruth(slot); t.isSkipped = true; t }
}

/** Ground truth over a slot range, folded from the per-block truths. */
final class RangeTruth(blocks: Seq[BlockTruth]) {
  val landed: Seq[BlockTruth] = blocks.filterNot(_.isSkipped)
  val blocksLanded: Int = landed.size
  val events: Long = landed.map(_.events.toLong).sum
  val txs: Long = landed.map(_.txs.toLong).sum
  val failed: Long = landed.map(_.failed.toLong).sum
  val transfers: Long = landed.map(_.transfers.toLong).sum
  val lastSlot: Long = landed.map(_.slot).max
  val walletTx: Map[String, Int] = landed.flatMap(_.walletTx).groupMapReduce(_._1)(_._2)(_ + _)
  val programEvents: Map[String, Int] =
    landed.flatMap(_.programEvents).groupMapReduce(_._1)(_._2)(_ + _)
  val mints: Int = landed.flatMap(_.mints).toSet.size
  val receivers: Int = landed.flatMap(_.receivers).toSet.size

  /** Top-n by count, ties broken by name: the analytics tables' order. */
  def top(m: Map[String, Int], n: Int): Seq[(String, Int)] =
    m.toSeq.sortBy { case (k, c) => (-c, k) }.take(n)
}

/** Pre-rendered bodies for a slot range, held in memory so the stub's
  * hot path is a byte copy. */
final class Rendered(val first: Long, val bodies: Array[Array[Byte]], val truths: Array[BlockTruth]) {
  def end: Long = first + bodies.length
  def body(slot: Long): Array[Byte] =
    if (slot >= first && slot < end) bodies((slot - first).toInt) else null
  def truth(from: Long, until: Long): RangeTruth =
    new RangeTruth(truths.slice((from - first).toInt, (until - first).toInt).toSeq)
}

object Rendered {
  /** Renders [first, end) on `threads` threads (blocks are independent). */
  def apply(chain: Chain, first: Long, end: Long, threads: Int): Rendered = {
    val n = (end - first).toInt
    val bodies = new Array[Array[Byte]](n)
    val truths = new Array[BlockTruth](n)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            var i = w
            while (i < n) {
              val (b, t) = chain.render(first + i)
              bodies(i) = b; truths(i) = t
              i += threads
            }
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    new Rendered(first, bodies, truths)
  }
}

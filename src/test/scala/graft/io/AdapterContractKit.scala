package graft.io

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.CommitProtocol.Adapter

/** REUSABLE contract kit for [[CommitProtocol.Adapter]] implementations
  * — the three properties every commit substrate must uphold before a
  * manifest table can trust it (subclass with a factory; the kit
  * generates the suite):
  *
  *  1. PUBLISH WINS EXACTLY ONCE: N racing publishers of distinct
  *     contents to one name — exactly one `true`, and the durable
  *     content is the winner's, byte-identical.
  *  2. CONTENT-COMPLETE-AT-VISIBILITY: a reader that observes the name
  *     existing reads the COMPLETE content (never a prefix) — the
  *     property whose absence was the pre-r8 torn-manifest window.
  *  3. RACE-vs-FAILURE SIGNALLING: publishing over an existing name
  *     returns `false` (a race, retried by the OCC loop); a genuine
  *     substrate failure (here: an unwritable target area) THROWS —
  *     never `false` (which would spin the loop on a broken store) and
  *     never a silent `true`.
  *
  * Run by [[LocalAdapterContractSpec]], [[RenameAdapterContractSpec]]
  * (under an HDFS-contract rename emulation — see there) and the
  * shipped [[CommitProtocol.ConditionalRegistryAdapter]] sample
  * ([[ConditionalRegistryAdapterContractSpec]]); a real S3/GCS adapter
  * ships with its own subclass pointed at the store (or a faithful
  * fake).
  */
abstract class AdapterContractKit extends AnyFunSuite {

  /** Adapter under test — fresh per test (stateful adapters must not
    * leak published names across tests).
    */
  def newAdapter(): Adapter

  /** The filesystem the adapter commits through. */
  def newFs(): FileSystem = {
    val fs = FileSystem.getLocal(new Configuration()).getRaw
    fs
  }

  def adapterName: String

  private def workspace(fs: FileSystem): Path = {
    val d = new Path(Files.createTempDirectory("adapter-kit").toString)
    fs.mkdirs(d)
    d
  }

  private def readAll(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](64 * 1024)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      buf.toByteArray
    } finally in.close()
  }

  test(s"$adapterName: publish wins exactly once under racing threads") {
    val adapter = newAdapter()
    val fs = newFs()
    val dir = workspace(fs)
    for (round <- 0 until 5) {
      val target = new Path(dir, s"race.$round")
      val threads = 8
      val start = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(threads)
      val results =
        try {
          val futures = (0 until threads).map { i =>
            pool.submit(new java.util.concurrent.Callable[Option[Int]] {
              def call(): Option[Int] = {
                start.await()
                val content =
                  s"writer $i round $round".getBytes("UTF-8")
                if (adapter.publish(fs, dir, target, content)) Some(i)
                else None
              }
            })
          }
          start.countDown()
          futures.map(_.get(60, TimeUnit.SECONDS))
        } finally pool.shutdown()
      val winners = results.flatten
      assert(winners.size === 1,
        s"round $round: expected exactly one publish winner, got $winners")
      assert(new String(readAll(fs, target), "UTF-8") ===
        s"writer ${winners.head} round $round",
        s"round $round: durable content must be the winner's")
    }
  }

  test(s"$adapterName: content is complete at visibility (no torn reads)") {
    val adapter = newAdapter()
    val fs = newFs()
    val dir = workspace(fs)
    // large enough that a create-then-write publisher is near-certain
    // to be caught mid-write by a polling reader
    val content = new Array[Byte](4 * 1024 * 1024)
    new scala.util.Random(7).nextBytes(content)
    for (round <- 0 until 3) {
      val target = new Path(dir, s"torn.$round")
      val pool = Executors.newFixedThreadPool(2)
      try {
        val reader = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            var seen = -1L
            val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
            while (seen < 0 && System.nanoTime() < deadline) {
              if (fs.exists(target))
                try seen = readAll(fs, target).length.toLong
                catch { case _: java.io.FileNotFoundException => () }
            }
            seen
          }
        })
        val writer = pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = adapter.publish(fs, dir, target, content)
        })
        assert(writer.get(60, TimeUnit.SECONDS) === true)
        assert(reader.get(60, TimeUnit.SECONDS) === content.length.toLong,
          s"round $round: a visible name must carry COMPLETE content")
      } finally pool.shutdown()
    }
  }

  test(s"$adapterName: a lost race is false; a broken substrate throws") {
    val adapter = newAdapter()
    val fs = newFs()
    val dir = workspace(fs)
    val target = new Path(dir, "owned")
    assert(adapter.publish(fs, dir, target, "first".getBytes("UTF-8")))
    // racing an existing name: false, and the owner's content survives
    assert(!adapter.publish(fs, dir, target, "second".getBytes("UTF-8")))
    assert(new String(readAll(fs, target), "UTF-8") === "first")
    // genuine failure: a target whose "parent directory" is a plain
    // FILE can never be created — must THROW (a false here would spin
    // the OCC loop on a broken store forever). Permission bits are no
    // use for this test: CI runs as root, which ignores them.
    val notADir = new Path(dir, "not-a-dir")
    val out = fs.create(notADir, true)
    try out.write("file".getBytes("UTF-8")) finally out.close()
    intercept[Exception] {
      val ok = adapter.publish(fs, dir, new Path(notADir, "t"),
        "x".getBytes("UTF-8"))
      assert(ok, "an impossible publish must throw, not report a lost race")
    }
  }
}

/** The hard-link local adapter: `link(2)` is the atomic create-with-
  * content primitive.
  */
class LocalAdapterContractSpec extends AdapterContractKit {
  def adapterName = "LocalAdapter"
  def newAdapter(): Adapter = CommitProtocol.LocalAdapter
}

/** [[CommitProtocol.RenameAdapter]] under an HDFS-CONTRACT rename: a
  * plain local `rename(2)` silently REPLACES an existing target — two
  * racers would both "win", which is EXACTLY why `adapterFor("file")`
  * returns the hard-link adapter and the rename path is documented
  * HDFS-only. The emulation makes rename atomic-no-overwrite the way
  * one NameNode op is (a synchronized exists-check + rename), so the
  * kit can pin the adapter's logic against the contract its real
  * substrate provides.
  */
class RenameAdapterContractSpec extends AdapterContractKit {
  def adapterName = "RenameAdapter (HDFS-contract rename)"
  def newAdapter(): Adapter = CommitProtocol.RenameAdapter
  override def newFs(): FileSystem = {
    val raw = new RawLocalFileSystem() {
      private val lock = new Object
      override def rename(src: Path, dst: Path): Boolean =
        lock.synchronized {
          if (exists(dst)) false else super.rename(src, dst)
        }
    }
    raw.initialize(java.net.URI.create("file:///"), new Configuration())
    raw
  }
}

/** The shipped conditional-write sample (S3 `If-None-Match` shape) —
  * proof the kit runs against a registry-linearized adapter.
  */
class ConditionalRegistryAdapterContractSpec extends AdapterContractKit {
  def adapterName = "ConditionalRegistryAdapter"
  def newAdapter(): Adapter = new CommitProtocol.ConditionalRegistryAdapter
}

package graft.io

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The atomic publish commit primitive: full-content-or-absent
  * visibility, lost-race signalling ONLY on target-exists, genuine
  * failures rethrown (not retried as phantom races), and the
  * object-store adapter registration seam.
  */
class CommitProtocolSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readAll(p: Path): String = {
    val f = fs(p)
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  test("publish: winner lands full content, loser returns false and changes nothing") {
    val dir = new Path(Files.createTempDirectory("graft-cp1").toString)
    val target = new Path(dir, "_manifest.v00001")
    assert(CommitProtocol.publish(fs(dir), dir, target, "a\tparts/a/1"))
    assert(readAll(target) === "a\tparts/a/1")
    // the loser must not clobber, truncate, or append
    assert(!CommitProtocol.publish(fs(dir), dir, target, "SOMETHING ELSE"))
    assert(readAll(target) === "a\tparts/a/1")
    // no tmp debris left behind by either attempt
    assert(fs(dir).listStatus(dir).map(_.getPath.getName).toSet === Set(
      "_manifest.v00001"))
  }

  test("RenameAdapter: target never exists without its complete content") {
    // drive the non-local (rename-based) path explicitly on the local fs:
    // write-tmp-then-rename means the target NAME appears only after the
    // bytes are all on disk — the pre-r8 create-then-write stream had a
    // window where a reader saw an empty manifest and the next merge
    // based itself on an empty head
    val dir = new Path(Files.createTempDirectory("graft-cp3").toString)
    val target = new Path(dir, "_manifest.v00001")
    val big = ("x" * 1024 + "\n") * 64
    assert(CommitProtocol.RenameAdapter.publish(fs(dir), dir, target,
      big.getBytes("UTF-8")))
    assert(readAll(target) === big)
    // lost race: returns false, cleans its tmp, leaves the winner intact
    assert(!CommitProtocol.RenameAdapter.publish(fs(dir), dir, target,
      "loser".getBytes("UTF-8")))
    assert(readAll(target) === big)
    assert(fs(dir).listStatus(dir).map(_.getPath.getName).toSet === Set(
      "_manifest.v00001"))
  }

  test("RenameAdapter: a rename failure with no competing target is a real error") {
    // renaming into a "directory" that is actually a FILE fails WITHOUT
    // the target existing — that is a broken filesystem, not a version
    // race, and must throw instead of being retried 1000 times as
    // "lost races"
    val dir = new Path(Files.createTempDirectory("graft-cp4").toString)
    val blocker = new Path(dir, "blocker")
    fs(dir).create(blocker, true).close()
    val target = new Path(dir, "blocker/_manifest.v00001")
    // either shape is honest: the rename call itself throws (Hadoop
    // local: "destination is not a directory"), or it returns false and
    // the adapter — seeing no competing target — raises its own "not a
    // version race" error; what must NEVER happen is a silent `false`
    // that the commit loop would retry 1000 times as phantom races
    intercept[java.io.IOException] {
      CommitProtocol.RenameAdapter.publish(fs(dir), dir, target,
        "x".getBytes("UTF-8"))
    }
  }

  test("adapter registration overrides a scheme and unregister restores it") {
    object Refusing extends CommitProtocol.Adapter {
      def publish(fs: org.apache.hadoop.fs.FileSystem, tmpDir: Path,
          target: Path, content: Array[Byte]): Boolean =
        throw new UnsupportedOperationException("refusing adapter")
    }
    assert(CommitProtocol.adapterFor("s3a") === CommitProtocol.RenameAdapter,
      "unregistered object stores fall to the rename default")
    assert(CommitProtocol.register("s3a", Refusing).isEmpty)
    try {
      assert(CommitProtocol.adapterFor("s3a") === Refusing)
      // local scheme is untouched by the s3a registration
      assert(CommitProtocol.adapterFor("file") === CommitProtocol.LocalAdapter)
    } finally CommitProtocol.unregister("s3a")
    assert(CommitProtocol.adapterFor("s3a") === CommitProtocol.RenameAdapter)
  }
}

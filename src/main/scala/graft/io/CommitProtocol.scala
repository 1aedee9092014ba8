package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}

/** A committer raced another committer for the same version/partition
  * and the loser's staged work is stale — the caller must re-derive it
  * from the NEW head (not merely re-commit it). Thrown by the
  * conflict-detecting commit paths ([[ManifestVersioned.mergeVersioned]],
  * [[ManifestVersioned.compactPartitionsMulti]]); the plain partition-replace path
  * ([[ManifestVersioned.writeDelta]]) never throws it, because there the
  * caller supplies each touched partition's FULL intended content and
  * partition-level last-wins is coherent.
  */
class ConcurrentWriteConflictException(msg: String)
  extends java.io.IOException(msg)

/** The COLUMN-MAPPING flavor of a write conflict: a RENAME/DROP COLUMN
  * (schema-only commits that move no partition entry) landed between
  * the snapshot a read-modify-write derived under and its commit, so
  * the staged delta speaks a superseded column language. Retrying
  * helps ONLY callers whose derivation actually re-runs against the
  * new head (the plan-thunk SQL MERGE, compaction's per-attempt
  * re-fold); a FIXED change frame keeps its stale names forever, so
  * the fixed-frame entry points abort loudly on this subtype instead
  * of spinning the retry loop (or worse: attempt 2's refreshed
  * expectation would no longer see the drift and a dropped column
  * would silently resurrect). Subtype of the retryable conflict so
  * re-deriving callers need no special handling.
  */
final class SchemaMappingConflictException(msg: String)
  extends ConcurrentWriteConflictException(msg)

/** A committer's PROPERTY expectation failed at commit time: the table
  * property its derivation was keyed on (COPY INTO's source watermark)
  * moved between read and commit — meaning a concurrent run of the same
  * statement already loaded (some of) the same inputs. Deliberately NOT
  * a [[ConcurrentWriteConflictException]]: the partition-level retry
  * loops re-stage the SAME rows against the new head, which is exactly
  * the duplication this signal exists to prevent — it must propagate to
  * the statement, which re-reads the property and re-derives its inputs
  * from scratch (typically finding nothing left to do).
  */
final class ConcurrentPropertyConflictException(msg: String)
  extends java.io.IOException(msg)

/** The ATOMIC publish primitive the manifest layer commits through,
  * with an explicit substrate-honesty matrix and a pluggable
  * adapter seam for stores whose rename/create semantics differ.
  *
  * Primitive: `publish(target, content)` — make `target` exist WITH its
  * full content, iff it does not exist; returns false when a peer owns
  * the name (the optimistic-concurrency "lost race" signal). A reader
  * must never observe `target` half-written.
  *
  * Substrate matrix (what each default genuinely guarantees):
  *
  *  | scheme      | publish                         | atomic? |
  *  |-------------|---------------------------------|---------|
  *  | `file`      | write tmp, hard-link to target  | yes — `link(2)` is O_EXCL-style create WITH content |
  *  | `hdfs`      | write tmp, rename-no-overwrite  | yes — rename is one NameNode op; content is complete before the name exists |
  *  | `s3a`/other | same rename path                | NO by default — S3A `rename` is copy+delete and `create(overwrite=false)` is HEAD-then-PUT, both raceable. Register a conditional-write adapter (S3 `If-None-Match`, GCS preconditions, a DynamoDB/ZK lock) via [[register]] before committing there. |
  *
  * Failure honesty: a lost race is signalled ONLY by the target already
  * existing (hard-link `FileAlreadyExistsException`, or rename returning
  * false WITH the target present). Any other IOException — permissions,
  * quota, network — is rethrown immediately, never retried as a
  * phantom race (the pre-r8 behavior retried a broken filesystem 1000
  * times and reported it as "lost 1000 races").
  *
  * WRITING A REAL ADAPTER: implement [[Adapter]] over the store's
  * conditional primitive (S3 `If-None-Match: *` PUT, GCS
  * `ifGenerationMatch: 0`, a DynamoDB/ZK lock), then subclass the
  * reusable CONTRACT KIT (`graft.io.AdapterContractKit`, src/test) —
  * it pins the three properties every substrate must uphold:
  * publish-wins-exactly-once under racing threads,
  * content-complete-at-visibility, and race-vs-failure signalling.
  * The kit runs against [[LocalAdapter]], [[RenameAdapter]] (under an
  * HDFS-contract rename emulation — plain local rename REPLACES, which
  * is exactly why `adapterFor("file")` is the hard-link adapter), and
  * the shipped [[ConditionalRegistryAdapter]] sample.
  */
object CommitProtocol {

  /** Scheme-specific commit semantics — register one per object store
    * whose default FileSystem operations are not atomic (see the matrix
    * above).
    */
  trait Adapter {
    /** Atomically create `target` with `content` iff absent; false on a
      * lost race, throw on genuine failure.
      */
    def publish(fs: FileSystem, tmpDir: Path, target: Path,
        content: Array[Byte]): Boolean
  }

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Adapter]()

  /** Install commit semantics for a URI scheme (e.g. "s3a" backed by
    * conditional PUTs). Returns the previously registered adapter.
    */
  def register(scheme: String, adapter: Adapter): Option[Adapter] =
    Option(registry.put(scheme, adapter))

  def unregister(scheme: String): Option[Adapter] =
    Option(registry.remove(scheme))

  /** The adapter a filesystem scheme resolves to: a registered override,
    * else the hard-link adapter for local files, else the rename-based
    * default (atomic on HDFS — see the matrix for what is NOT covered).
    */
  def adapterFor(scheme: String): Adapter =
    Option(registry.get(scheme)).getOrElse(
      if (scheme == "file") LocalAdapter else RenameAdapter)

  def publish(fs: FileSystem, tmpDir: Path, target: Path,
      content: String): Boolean =
    adapterFor(fs.getScheme).publish(fs, tmpDir, target,
      content.getBytes("UTF-8"))

  /** Local filesystems: hard-link publish (the link appears atomically
    * WITH its content — `link(2)` fails with EEXIST on a lost race).
    */
  object LocalAdapter extends Adapter {
    def publish(fs: FileSystem, tmpDir: Path, target: Path,
        content: Array[Byte]): Boolean = {
      val tmp = new Path(tmpDir,
        s"._m.${java.util.UUID.randomUUID().toString.take(12)}.tmp")
      val out = fs.create(tmp, true)
      try out.write(content) finally out.close()
      val ok =
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(target.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      fs.delete(tmp, false)
      ok
    }
  }

  /** SAMPLE conditional-write adapter — the shape a real object-store
    * adapter takes, runnable today: models S3's `If-None-Match: *` PUT
    * (or a GCS `ifGenerationMatch: 0` precondition, or a DynamoDB
    * conditional item put) with an external atomic REGISTRY deciding
    * the race — here an in-JVM set standing in for the store's
    * conditional endpoint. `putIfAbsent` on the registry is the
    * linearization point: exactly one publisher wins the name, and
    * ONLY the winner materializes the object (write-tmp + rename with
    * no competitor), so the name never exists without its complete
    * content. A real S3 adapter replaces the registry call with the
    * conditional PUT itself (content and claim in ONE atomic call);
    * everything else — loser signalling, failure honesty — is
    * identical, which is why this sample is the contract-kit fixture
    * (`AdapterContractKit` must pass against it).
    *
    * Scope honesty: the registry is per-JVM — correct for single-driver
    * commits (this engine's writer model: many threads, one driver) and
    * for tests; cross-JVM deployments need the real store-side
    * precondition. Losers may observe `false` momentarily before the
    * winner's rename lands; the OCC loop re-reads the head and simply
    * loses the same version number again until it is visible.
    */
  final class ConditionalRegistryAdapter extends Adapter {
    private val registry =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def publish(fs: FileSystem, tmpDir: Path, target: Path,
        content: Array[Byte]): Boolean = {
      if (!registry.add(target.toString)) return false
      val tmp = new Path(tmpDir,
        s"._m.${java.util.UUID.randomUUID().toString.take(12)}.tmp")
      val out = fs.create(tmp, true)
      try out.write(content) finally out.close()
      if (!fs.rename(tmp, target)) {
        // the claim succeeded, so nothing competes for the name — a
        // failed rename here is a genuine substrate failure, never a
        // race; surrender the claim so a retry can run, then throw
        registry.remove(target.toString)
        fs.delete(tmp, false)
        throw new java.io.IOException(
          s"conditional publish materialization failed: $tmp -> $target")
      }
      true
    }
  }

  /** Rename-based publish: write the FULL content to a unique tmp file,
    * then rename-no-overwrite onto the target — the target name never
    * exists without its complete content, closing the create-then-write
    * torn window (`fs.create(target, false)` published an EMPTY file
    * first; a reader or crash in that window observed a truncated
    * manifest). Atomic on HDFS (one NameNode op); see the matrix for
    * object stores. A rename returning false with the target ABSENT is
    * a real failure and throws — only target-exists counts as a race.
    */
  object RenameAdapter extends Adapter {
    def publish(fs: FileSystem, tmpDir: Path, target: Path,
        content: Array[Byte]): Boolean = {
      val tmp = new Path(tmpDir,
        s"._m.${java.util.UUID.randomUUID().toString.take(12)}.tmp")
      val out = fs.create(tmp, true)
      try out.write(content) finally out.close()
      if (fs.rename(tmp, target)) true
      else if (fs.exists(target)) { fs.delete(tmp, false); false }
      else throw new java.io.IOException(
        s"atomic publish rename failed without a competing $target " +
          "(not a version race — check permissions/quota/connectivity)")
    }
  }
}

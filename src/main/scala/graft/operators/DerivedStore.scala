package graft.operators

import java.io.File
import java.nio.file.{FileSystems, Files, Paths, StandardCopyOption}
import java.nio.file.attribute.{FileAttribute, FileTime, PosixFilePermissions}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The one store for artifacts derived from input data and reused
  * across queries and runs, under `target/derived/`:
  *
  *  - [[table]]: a relation written once per scale dir (the
  *    partitioned fact copy, the near-dup cluster assignment, the
  *    co-purchase pair/node layouts) and read by every consumer — the
  *    derived table a warehouse maintains beside its source;
  *  - [[value]]: a small driver-side artifact (a probe verdict, a
  *    trained quantizer or merge table), memoized in the JVM and kept
  *    on disk as one text entry;
  *  - [[rebuildUnlessCurrent]]: the freshness check both use, also for
  *    state kept elsewhere (the embedded-Derby warehouse load).
  *
  * Everything rests on one [[key]]: the input relation's leaf files
  * (path, size, mtime, listed recursively through its own FileIndex),
  * its canonical plan, its schema, the artifact kind and the engine's
  * code version. Changing any input file, the query, or any compiled
  * engine class gives a new key, so no artifact can be served stale.
  * A relation that is not entirely local files (in-memory rows, an
  * `s3a://` or `hdfs://` root) has no key: its values are memoized in
  * the JVM only and its tables are rebuilt on every call.
  *
  * At warehouse scale the same shape holds: the derivation is one job
  * writing a table, consumers are cheap scans, and the file listing
  * becomes the source table's snapshot id.
  */
object DerivedStore {

  private val Root = "target/derived"

  /** In-JVM memo cap: a key for a relation without files retains a
    * whole logical plan, so a long-lived service probing ever-fresh
    * plans must not grow the map without bound. Past the cap one
    * arbitrary entry is dropped; a lost memo costs one recompute.
    */
  private[operators] val MemoMax = 256

  /** Disk value cap (entry count, LRU by mtime): every regenerated
    * corpus mints fresh keys, so `target/derived/values` would grow
    * forever. Entries are caches, so evicting a live one only costs a
    * recompute; the cap also keeps the eviction scan O(cap).
    */
  private[operators] val DiskCap = 512

  /** Hash of the bytes of every class in the engine's build output,
    * computed once per JVM: the same build gives the same version in
    * every JVM, and any changed class gives a new one. A JVM whose
    * classes have no location never shares entries with another.
    */
  private[operators] lazy val codeVersion: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Option(getClass.getProtectionDomain.getCodeSource) match {
      case Some(src) =>
        val loc = Paths.get(src.getLocation.toURI)
        val jar = if (Files.isDirectory(loc)) None
          else Some(FileSystems.newFileSystem(loc))
        try {
          val base = jar.fold(loc)(_.getPath("/"))
          Files.walk(base).iterator().asScala
            .filter(_.toString.endsWith(".class"))
            .map(p => base.relativize(p).toString -> p).toSeq.sortBy(_._1)
            .foreach { case (name, p) =>
              md.update(name.getBytes("UTF-8"))
              md.update(Files.readAllBytes(p))
            }
        } finally jar.foreach(_.close())
      case None =>
        md.update(java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
    }
    hex(md.digest())
  }

  /** Cross-run key of artifact `kind` derived from `df`: Some(md5)
    * when every leaf of its plan is a local-filesystem file scan, None
    * otherwise.
    *
    * The FILES come from the relation's own FileIndex — every leaf
    * file's full path, length and mtime, recursive through nested
    * partition dirs — never from a directory listing, which is
    * non-recursive and meaningless for remote schemes. The PLAN is its
    * canonicalized UNTRUNCATED treeString plus the full schema JSON, so
    * two wide plans over the same files never alias. Not
    * `semanticHash`: HadoopFsRelation's hash depends on class identity
    * hashes, which differ in every JVM.
    */
  def key(df: DataFrame, kind: String): Option[String] =
    key(df, kind, codeVersion)

  private[operators] def key(df: DataFrame, kind: String,
                             version: String): Option[String] = {
    val plan = df.queryExecution.analyzed.canonicalized
    val leaves = plan.collectLeaves()
    val files = leaves.map {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.location.rootPaths.nonEmpty &&
            fs.location.rootPaths.forall { p =>
              val scheme = p.toUri.getScheme
              (scheme == null || scheme == "file") &&
                new File(p.toUri.getPath).exists()
            } =>
          Some(fs.location.listFiles(Nil, Nil).flatMap(_.files)
            .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
            .sorted.mkString(","))
        case _ => None
      }
      case _ => None
    }
    if (leaves.isEmpty || files.exists(_.isEmpty)) None
    else {
      val raw = Seq(version, kind,
        plan.treeString(verbose = false, addSuffix = false,
          maxFields = Int.MaxValue, printOperatorId = false),
        plan.schema.json, files.flatten.mkString("|")).mkString("\n")
      Some(hex(java.security.MessageDigest.getInstance("MD5")
        .digest(raw.getBytes("UTF-8"))))
    }
  }

  /** Path of the derived table `name` for scale dir `dir`, running
    * `write` first when the table is missing or was built from
    * anything other than `source` as it is now. `write` gets the path
    * and must overwrite it. Thread-safe within a JVM (per-path lock),
    * so concurrent first users do not race the overwrite.
    */
  def table(dir: String, name: String, source: DataFrame)(
      write: String => Unit): String = {
    val out = new File(s"$Root/${new File(dir).getName}/$name").getAbsolutePath
    locks.computeIfAbsent(out, _ => new Object).synchronized {
      rebuildUnlessCurrent(new File(out, "_DERIVED_KEY"), source, name)(write(out))
    }
    out
  }

  /** Runs `build` unless `marker` holds the current key of `source`,
    * then records that key in `marker`. A source with no key always
    * rebuilds.
    */
  def rebuildUnlessCurrent(marker: File, source: DataFrame, kind: String)(
      build: => Unit): Unit = {
    val k = key(source, kind)
    if (!k.exists(v => marker.exists() && Files.readString(marker.toPath) == v)) {
      build
      k.foreach(v => Files.writeString(marker.toPath, v))
    }
  }

  /** Memoized artifact `kind` of `df`. The in-JVM memo is keyed by
    * [[key]] (or, for a relation without one, by kind and canonical
    * plan), so concurrent first callers compute once. A keyed value
    * is also kept on disk under `target/derived/values/<key>`: the
    * first line holds the build seconds (surfaced through
    * [[ModelCost]]), the rest `encode(value)`, written through a temp
    * file and an atomic rename. An entry that cannot be read or
    * decoded is a miss: the value is computed and the entry rewritten.
    */
  def value[T <: AnyRef](df: DataFrame, kind: String)(compute: => T)(
      encode: T => String)(decode: String => T): T =
    memoized(df, kind, ledger = true)(compute)(encode)(decode)

  /** [[value]] for a Boolean probe verdict. A probe is query work, not
    * a trained model, so its seconds stay out of the [[ModelCost]]
    * ledger.
    */
  def verdict(df: DataFrame, kind: String)(probe: => Boolean): Boolean =
    memoized[java.lang.Boolean](df, kind, ledger = false)(probe)(_.toString)(_ == "true")

  private def memoized[T <: AnyRef](df: DataFrame, kind: String, ledger: Boolean)(
      compute: => T)(encode: T => String)(decode: String => T): T = {
    val k = key(df, kind)
    val memoKey: AnyRef = k.getOrElse((kind, df.queryExecution.analyzed.canonicalized))
    while (memo.size() > MemoMax) {
      val it = memo.keySet().iterator()
      if (it.hasNext) { it.next(); it.remove() }
    }
    memo.computeIfAbsent(memoKey, _ => new Lazy(() =>
      k match {
        case Some(dk) => onDisk(kind, dk, ledger)(compute)(encode)(decode)
        case None => compute
      })).get.asInstanceOf[T]
  }

  private def onDisk[T <: AnyRef](kind: String, k: String, ledger: Boolean)(
      compute: => T)(encode: T => String)(decode: String => T): T = {
    val f = new File(s"$Root/values/$k")
    val hit = if (!f.exists()) None else
      try {
        val Array(line, body) = Files.readString(f.toPath).split("\n", 2)
        val sec = line.toDouble
        val v = decode(body)
        touch(f)
        if (ledger) ModelCost.recordLoaded(kind, k, sec)
        Some(v)
      } catch { case NonFatal(_) => None }
    hit.getOrElse {
      val t0 = System.nanoTime()
      val v = compute
      val sec = (System.nanoTime() - t0) / 1e9
      f.getParentFile.mkdirs()
      // a concurrent JVM sharing target/derived must never read a
      // half-written entry; the entry is readable beyond its owner, as
      // every other file of the store is (a temp file is 0600)
      val tmp = Files.createTempFile(f.getParentFile.toPath, f.getName, ".tmp",
        entryMode: _*)
      Files.writeString(tmp, "%.3f".formatLocal(java.util.Locale.ROOT, sec) +
        "\n" + encode(v))
      Files.move(tmp, f.toPath, StandardCopyOption.ATOMIC_MOVE)
      if (ledger) ModelCost.recordBuilt(kind, k, sec)
      evictPast(f.getParentFile, DiskCap)
      v
    }
  }

  /** `rw-r--r--` (less the umask) on a POSIX filesystem. */
  private val entryMode: Seq[FileAttribute[_]] =
    if (!FileSystems.getDefault.supportedFileAttributeViews.contains("posix")) Nil
    else Seq(PosixFilePermissions.asFileAttribute(PosixFilePermissions.fromString("rw-r--r--")))

  /** Disk hits refresh their entry's mtime; best-effort, so a
    * filesystem refusing the update degrades the LRU to FIFO.
    */
  private[operators] def touch(f: File): Unit =
    try Files.setLastModifiedTime(f.toPath,
      FileTime.fromMillis(System.currentTimeMillis()))
    catch { case NonFatal(_) => () }

  /** Deletes the oldest entries of `dir` past `cap`, never an
    * in-flight `.tmp` write.
    */
  private[operators] def evictPast(dir: File, cap: Int): Unit =
    try {
      val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.isFile && !f.getName.endsWith(".tmp"))
      if (files.length > cap)
        files.sortBy(f => (f.lastModified(), f.getName))
          .take(files.length - cap).foreach(_.delete())
    } catch { case NonFatal(_) => () }

  /** Empties the in-JVM memo, as a fresh JVM would see it. */
  private[graft] def clearMemo(): Unit = memo.clear()

  private[operators] def memoSize: Int = memo.size()

  /** Computed outside the map's bin lock, so a value whose compute
    * asks the store for another value cannot deadlock; a failed
    * compute is retried by the next caller.
    */
  private final class Lazy(private var compute: () => AnyRef) {
    lazy val get: AnyRef = { val v = compute(); compute = null; v }
  }

  private val memo = new ConcurrentHashMap[AnyRef, Lazy]()
  private val locks = new ConcurrentHashMap[String, Object]()

  private def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString
}

package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** A versioned JSON catalog: one directory of `v<N>.json` files, each a
  * complete snapshot, the highest N the current one. The hypertable's
  * chunk manifest and the continuous aggregate's materialization catalog
  * are both one, the way the reference keeps every chunk set, the
  * materialized hypertable's included, in one catalog
  * (`tsl/src/continuous_aggs/README.md`, "The materialized hypertable").
  * This is the only code that knows the naming scheme, resolves the
  * latest version, writes the next one and prunes old ones.
  *
  * Every publish writes a NEW file (atomic small-file write, no no-file
  * window) and readers resolve the highest version, so the version is a
  * monotonic memo key rather than an mtime, and a reader never sees the
  * catalog absent. The newest `keep` versions are retained, so a reader
  * that listed just before a publish still opens its file. Writers
  * serialize themselves (the hypertable's catalog lock plus flock, the
  * cagg's refresh lock); nothing here locks.
  */
private[graft] final class VersionedCatalog(fs: FileSystem, val dir: Path,
    keep: Int) {
  import VersionedCatalog.versionOf

  /** Published versions, ascending, as one listing saw them. */
  private def listed(): Seq[(Long, FileStatus)] =
    try fs.listStatus(dir).toSeq
      .flatMap(s => versionOf(s).map(_ -> s))
      .sortBy(_._1)
    catch { case _: java.io.FileNotFoundException => Nil }

  /** The highest published version (the memo key); -1 before the first
    * publish.
    */
  def version(): Long = listed().lastOption.fold(-1L)(_._1)

  /** The latest version's mtime, from the listing (None before the first
    * publish): the hypertable's mtime freshness cue.
    */
  def modTime(): Option[Long] =
    listed().lastOption.map(_._2.getModificationTime)

  /** (version, body) of the latest version, from one listing and one open;
    * None before the first publish. A version pruned between the listing
    * and the open (publishes raced in) lists again, so it never reads as
    * absent.
    */
  def latest(): Option[(Long, String)] = {
    var pruned = 0
    while (true) {
      listed().lastOption match {
        case None => return None
        case Some((v, st)) =>
          try return Some(v -> Hypertable.readSmallFile(fs, st.getPath))
          catch {
            case e: java.io.FileNotFoundException =>
              pruned += 1
              if (pruned > 100) throw e
          }
      }
    }
    None // unreachable
  }

  /** Write version `v` and prune all but the newest `keep` versions. */
  def publish(v: Long, body: String): Unit = {
    Hypertable.writeSmallFile(fs, new Path(dir, s"v$v.json"), body)
    listed().dropRight(keep).foreach { case (_, st) =>
      try fs.delete(st.getPath, false)
      catch { case _: java.io.IOException => () }
    }
  }
}

private[graft] object VersionedCatalog {
  private val Version = """v(\d+)\.json""".r

  private def versionOf(s: FileStatus): Option[Long] =
    s.getPath.getName match {
      case Version(n) if s.isFile => Some(n.toLong)
      case _ => None
    }

  /** A hypertable's chunk manifest (`<root>/_graft_catalog`), keep 4. */
  def chunks(fs: FileSystem, root: Path): VersionedCatalog =
    new VersionedCatalog(fs, new Path(root, "_graft_catalog"), 4)

  /** A continuous aggregate's materialization catalog
    * (`<cagg>/_mat_catalog`), keep 3.
    */
  def materialization(fs: FileSystem, cagg: Path): VersionedCatalog =
    new VersionedCatalog(fs, new Path(cagg, "_mat_catalog"), 3)
}

/** One version of a hypertable's chunk manifest: the chunk set (start,
  * end, live data path) and `cs`, each storage root's content-stamp
  * counter as of the publish (the mtime-free freshness cue compares live
  * counters against it). JSON: `{"v":N,"chunks":[{"s","e","p"}],"cs":{}}`.
  */
private[graft] final case class ChunkManifest(v: Long, chunks: Seq[ChunkInfo],
    cs: Map[String, Long]) {
  def encode: String = {
    val o = Hypertable.jsonMapper.createObjectNode()
    val arr = o.putArray("chunks")
    chunks.foreach { c =>
      val n = arr.addObject()
      n.put("s", c.startMicros); n.put("e", c.endMicros); n.put("p", c.path)
    }
    o.put("v", v)
    val csNode = o.putObject("cs")
    cs.toSeq.sortBy(_._1).foreach { case (r, c) => csNode.put(r, c) }
    o.toString
  }
}

private[graft] object ChunkManifest {
  /** The one manifest writer: publishes the version after `prev` (-1: none
    * yet). The hypertable's full refresh and both incremental patches
    * compute their chunks and `cs` and publish here.
    */
  def publish(cat: VersionedCatalog, prev: Long, chunks: Seq[ChunkInfo],
      cs: Map[String, Long]): Unit = {
    val next = prev.max(0L) + 1
    cat.publish(next, ChunkManifest(next, chunks, cs).encode)
  }

  /** The latest manifest, decoded; None when there is none or it does not
    * parse.
    */
  def latest(cat: VersionedCatalog): Option[(Long, ChunkManifest)] =
    cat.latest().flatMap { case (v, body) =>
      try Some(v -> decode(body))
      catch { case _: Exception => None }
    }

  /** Chunks come back sorted by start; a manifest without `cs` has an
    * empty map.
    */
  def decode(body: String): ChunkManifest = {
    import scala.jdk.CollectionConverters._
    val t = Hypertable.jsonMapper.readTree(body)
    val chunks = t.get("chunks").elements().asScala.map(n =>
      ChunkInfo(n.get("s").asLong, n.get("e").asLong, n.get("p").asText))
      .toSeq.sortBy(_.startMicros)
    val cs = Option(t.get("cs")).filter(_.isObject).toSeq
      .flatMap(_.fields().asScala.map(e => e.getKey -> e.getValue.asLong()))
      .toMap
    ChunkManifest(Option(t.get("v")).fold(0L)(_.asLong), chunks, cs)
  }
}

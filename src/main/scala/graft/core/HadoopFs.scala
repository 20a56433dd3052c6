package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}

/** Hadoop file-system calls whose failure must not pass silently. */
object HadoopFs {

  /** `fs.rename(src, dst)` that throws when the rename does not
    * happen. Hadoop reports most rename failures (missing source,
    * existing destination, missing parent) by returning `false`, and
    * every gvdb swap point deletes the old copy first — an unchecked
    * `false` there loses the data (a folded tombstone table that never
    * lands resurrects every deleted row). */
  def rename(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"gvdb: rename of $src to $dst failed")
}

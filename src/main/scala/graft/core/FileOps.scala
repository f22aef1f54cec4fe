package graft.core

import java.nio.file.{Files, Path, StandardCopyOption}

/** The filesystem primitives every pointer, meta and checkpoint writer
  * shares. */
object FileOps {

  /** Write-temp-then-rename (the reference's writeFileAtomic): `text`
    * lands in a sibling `<name>.tmp`, then one atomic move replaces
    * `target`, so a crashed writer leaves the previous complete file,
    * never a torn one. */
  def publishAtomic(target: Path, text: String): Unit = {
    Option(target.getParent).foreach(Files.createDirectories(_))
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp")
    Files.writeString(tmp, text)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** Remove `f` and everything under it (a missing `f` is a no-op). */
  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree)); f.delete(); ()
  }
}

package graft.core

/** Spec access to an engine's [[ManifestPins]] seam. */
object ManifestPinsAccess {
  /** The engine's reads read every manifest's bytes and pin nothing, as
    * where descriptor identity is unavailable.
    */
  def withoutDescriptors(g: Graft): Graft = { g.manifestPins.pinning = false; g }
}

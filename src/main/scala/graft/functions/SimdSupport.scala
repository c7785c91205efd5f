package graft.functions

/** Runtime gate for the Vector-API serve kernels ([[SimdKernels]]),
  * deliberately free of any `jdk.incubator.vector` import: callers test
  * [[SimdSupport.available]] BEFORE touching SimdKernels, so a JVM
  * launched without `--add-modules jdk.incubator.vector` falls back to
  * the scalar paths instead of dying on NoClassDefFoundError at class
  * init. `GRAFT_SIMD=off` forces the scalar paths (the A/B lever for
  * serve measurements); the 8-lane requirement pins the byte→double
  * widening shape the SQ8 kernel needs (AVX-512 and SVE-512 boxes —
  * narrower machines serve through the scalar paths, same bits). */
object SimdSupport {
  lazy val available: Boolean =
    sys.env.get("GRAFT_SIMD").forall(_.toLowerCase != "off") &&
      (try {
        Class.forName("jdk.incubator.vector.DoubleVector")
        SimdKernels.lanes == 8
      } catch {
        case _: Throwable => false
      })
}

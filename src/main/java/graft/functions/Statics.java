package graft.functions;

/**
 * Java-static façade over the Scala scalar functions, so generated
 * whole-stage-codegen Java (janino) can call them with plain
 * {@code graft.functions.Statics.foo(...)} syntax — no Scala MODULE$
 * indirection inside the generated source.
 */
public final class Statics {
  private Statics() {}

  public static long seedOf(long i) {
    return graft.synth.ImageSynth$.MODULE$.seedOf(i);
  }

  public static double geotagLon(long i) {
    return graft.synth.Geotag$.MODULE$.lonOf(seedOf(i));
  }

  public static double geotagLat(long i) {
    return graft.synth.Geotag$.MODULE$.latOf(seedOf(i));
  }

  public static long metaUid(long i) {
    return graft.synth.ImageSynth$.MODULE$.uidOf(seedOf(i));
  }

  public static long metaDay(long i) {
    return graft.synth.ImageSynth$.MODULE$.dayOf(seedOf(i));
  }

  /** Team ordinal 0..3 (kll, msf, dcx, hot) — string resolved post-agg. */
  public static int metaTeamId(long i) {
    return graft.synth.ImageSynth$.MODULE$.teamIdOf(seedOf(i));
  }

  /** splitmix64(x) reduced to basis points [0, 10000) — the deterministic
   *  sampling key for hash-based downsampling. */
  public static long mixBp(long x) {
    return (graft.synth.ImageSynth$.MODULE$.mix(x) & 0x7FFFFFFFL) % 10000L;
  }

  /** Feature-class noun ordinal (caption noun) 0..5. */
  public static int metaNounId(long i) {
    return graft.synth.ImageSynth$.MODULE$.nounIdOf(seedOf(i));
  }

  /** Changeset id draw, the `@c` of ImageSynth's editing metadata. */
  public static long metaCs(long i) {
    return (graft.synth.ImageSynth$.MODULE$.mix(seedOf(i) ^ 29L) & 0x7FFFFFFFL) % 100000L;
  }

  /** Version draw, the `@v` of ImageSynth's editing metadata. */
  public static long metaVer(long i) {
    return 1L + (graft.synth.ImageSynth$.MODULE$.mix(seedOf(i) ^ 31L) & 0x7FFFFFFFL) % 9L;
  }

  public static double segDLon(long i) {
    return graft.synth.ImageSynth$.MODULE$.segDLon(seedOf(i));
  }

  public static double segDLat(long i) {
    return graft.synth.ImageSynth$.MODULE$.segDLat(seedOf(i));
  }

  public static long hexCell(double lat, double lon, int res) {
    return graft.index.Hex$.MODULE$.latLngToCell(lat, lon, res);
  }

  public static long s2Cell(double lat, double lon, int level) {
    return graft.index.S2Like$.MODULE$.cellIdAt(lat, lon, level);
  }

  public static long quadCell(double lat, double lon, int zoom) {
    return graft.index.Quadkey$.MODULE$.cellIdOf(lon, lat, zoom);
  }

  /** Raw splitmix64 finalizer — the engine's one hash family (also the
   *  KMV sketch's order statistic; OracleSql.mix replicates it in SQL). */
  public static long mix64(long x) {
    return graft.synth.ImageSynth$.MODULE$.mix(x);
  }

  /** Leading-zero count (HLL rho; SQL replica: 64 − length(bin(x))). */
  public static long clz64(long x) {
    return Long.numberOfLeadingZeros(x);
  }
}

package rocana.spark.udaf;

import java.math.BigDecimal;
import java.math.MathContext;
import java.math.RoundingMode;
import java.util.Arrays;
import java.util.List;
import org.apache.spark.TaskContext;
import org.apache.spark.sql.Encoder;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders;
import org.apache.spark.sql.expressions.Aggregator;

/**
 * The bounded reservoir aggregate of the reference's appx_median_bounded
 * (median.cc:117-304) as one Spark {@code Aggregator}: every batch entry
 * point of the family — the DataFrame operators and every registered SQL
 * name — runs this reduce and merge inside ObjectHashAggregate's partial
 * and final phases. Only the argument layout ({@link Input}) and the
 * finisher ({@link Finish}) differ between names.
 *
 * The buffer is one primitive {@code double[]}:
 * {@code [k, sourceSize, n, p, v0, key0, v1, key1, ...]} with spare
 * capacity after the n-th pair. A key of -1 marks a sample not yet keyed
 * (median.cc:58-59); p is -1 until a percentile argument sets it (0.5 then).
 *
 *  - reduce = ReservoirSampleUpdate: NULL skip, Algorithm R with
 *    P(accept)=k/i, k ratchets up, never down (median.cc:128-163).
 *  - merge  = Serialize + Merge: unkeyed samples get weight keys
 *    key=(source_size-r)/source_size, r uniform in [0, n) (median.cc:176-192);
 *    the k samples with the largest keys survive and source_size sums
 *    (median.cc:228-282).
 *  - finish = AppxMedianFinalize: empty input => SQL NULL, else the sorted
 *    sample at index min(floor(n*p), n-1) — n/2, the upper median, at
 *    p=0.5 (median.cc:284-304).
 *
 * Randomness is seeded, not ThreadLocalRandom: the reduce side draws from
 * a counter-based stream of (seed, task partition id, stream position);
 * merge-time keys from (seed, the partial's own content); ties in the
 * top-k selection are broken by (a seeded hash of) the value. For a fixed
 * partitioning a seed therefore reproduces its result, whatever order the
 * shuffle delivers partials in. Results are exact (and seed-free) whenever
 * a group's non-null row count stays within k.
 *
 * NaN values are sampled like any other double (the reference skips only
 * NULLs); sorting uses the {@code Double.compare} total order, NaN last.
 */
public class AppxMedianBounded extends Aggregator<Row, double[], Object> {

  /** Argument layout of the input row. */
  public enum Input {
    /** (value DOUBLE, k INT). */
    VALUE_K,
    /** (value DOUBLE, p DOUBLE, k INT): p ratchets to the group's max. */
    VALUE_P_K,
    /** (state ARRAY&lt;DOUBLE&gt;): a {@link Finish#STATE} partial. */
    STATE
  }

  /** What finish() returns. */
  public enum Finish {
    /** DOUBLE: the p-th sample (p = 0.5 unless set). */
    DOUBLE,
    /** STRING: the median via Double.toString (exact CAST round trip). */
    STRING,
    /** STRING: the median as C's %.6g, the reference's ToStringVal bytes. */
    REF_FORMAT,
    /** ARRAY&lt;DOUBLE&gt;: the sample, sorted. */
    SAMPLE,
    /** ARRAY&lt;DOUBLE&gt;: [max_samples, source_size, n, vals..., keys...]. */
    STATE
  }

  public static final long DEFAULT_SEED = 42L;

  private static final int K = 0;
  private static final int SS = 1;
  private static final int N = 2;
  private static final int P = 3;
  private static final int HDR = 4;
  private static final int DEFAULT_K = 100;
  private static final long GOLDEN = 0x9E3779B97F4A7C15L;

  @SuppressWarnings("unchecked")
  private static final Encoder<double[]> DOUBLE_ARRAY =
      (Encoder<double[]>) (Encoder<?>) new AgnosticEncoders.ArrayEncoder<>(
          AgnosticEncoders.PrimitiveDoubleEncoder$.MODULE$, false);

  private final Input input;
  private final Finish finish;
  private final long seed;

  /** appx_median_bounded_1call: (value, k) -> STRING, default seed. */
  public AppxMedianBounded() {
    this(Input.VALUE_K, Finish.STRING, DEFAULT_SEED);
  }

  public AppxMedianBounded(Input input, Finish finish, long seed) {
    this.input = input;
    this.finish = finish;
    this.seed = seed;
  }

  @Override
  public double[] zero() {
    double[] b = new double[HDR];
    b[P] = -1.0;
    return b;
  }

  @Override
  public double[] reduce(double[] b, Row in) {
    if (input == Input.STATE) {
      return in.isNullAt(0) ? b : merge(b, fromState(in.getList(0)));
    }
    int kAt = input == Input.VALUE_P_K ? 2 : 1;
    if (!in.isNullAt(kAt)) {
      int k = in.getInt(kAt);
      if (k <= 0) {
        throw new IllegalArgumentException("max_samples must be positive, got " + k);
      }
      b[K] = Math.max(b[K], k); // ratchet, median.cc:157-162
    }
    if (input == Input.VALUE_P_K && !in.isNullAt(1)) {
      double p = in.getDouble(1);
      if (!(p >= 0.0 && p <= 1.0)) {
        throw new IllegalArgumentException("percentile p must be in [0, 1], got " + p);
      }
      b[P] = Math.max(b[P], p);
    }
    return in.isNullAt(0) ? b : add(b, in.getDouble(0)); // NULL skip, median.cc:130
  }

  /** Algorithm R for one value. Row i (1-based) draws r uniform in [0, i)
   * and replaces slot r when r < k: P(accept) = k/i, slot uniform. */
  private double[] add(double[] b, double v) {
    if (b[K] == 0) {
      b[K] = DEFAULT_K; // no non-null k seen yet
    }
    int k = (int) b[K];
    int n = (int) b[N];
    long i = (long) b[SS] + 1;
    int slot = -1;
    if (n < k) { // fill phase, median.cc:149-150
      slot = n;
      if (HDR + 2 * n + 2 > b.length) {
        b = Arrays.copyOf(b, HDR + 2 * Math.min(k, Math.max(8, 2 * n)));
      }
      b[N] = n + 1;
    } else {
      long base = mix(seed ^ mix(TaskContext.getPartitionId() + GOLDEN));
      long r = (long) (unit(mix(base + i * GOLDEN)) * i);
      if (r < k) {
        slot = (int) r;
      }
    }
    if (slot >= 0) {
      b[HDR + 2 * slot] = v;
      b[HDR + 2 * slot + 1] = -1.0;
    }
    b[SS] = i;
    return b;
  }

  /** Serialize-time keying (median.cc:176-192), seeded from the partial's
   * own content so the key set does not depend on merge order. */
  private void assignKeys(double[] b) {
    int n = (int) b[N];
    int first = 0;
    while (first < n && b[HDR + 2 * first + 1] >= 0) {
      first++;
    }
    if (first == n) {
      return;
    }
    double ss = b[SS];
    long h = mix(seed ^ Double.doubleToLongBits(ss));
    for (int j = 0; j < n; j++) {
      h = mix(h ^ Double.doubleToLongBits(b[HDR + 2 * j]));
    }
    for (int j = first; j < n; j++) {
      if (b[HDR + 2 * j + 1] < 0) {
        long r = (long) (unit(mix(h + (j + 1) * GOLDEN)) * n);
        b[HDR + 2 * j + 1] = (ss - r) / ss;
      }
    }
  }

  @Override
  public double[] merge(double[] a, double[] b) {
    assignKeys(a);
    assignKeys(b);
    int na = (int) a[N];
    int nb = (int) b[N];
    int k = (int) Math.max(a[K], b[K]); // median.cc:242-254
    int m = (k > 0 && na + nb > k) ? k : na + nb;
    double[] out = new double[HDR + 2 * m];
    out[K] = k;
    out[SS] = a[SS] + b[SS]; // median.cc:281
    out[N] = m;
    out[P] = Math.max(a[P], b[P]);
    if (m == na + nb) {
      System.arraycopy(a, HDR, out, HDR, 2 * na);
      System.arraycopy(b, HDR, out, HDR + 2 * na, 2 * nb);
      return out;
    }
    // keep the k largest keys (the reference's min-heap eviction,
    // median.cc:263-280). Keys of small partials repeat, so ties are
    // common: break them by a seeded hash of the value, then the value —
    // a rule that ignores merge order without favouring small values.
    double[] all = new double[2 * (na + nb)];
    System.arraycopy(a, HDR, all, 0, 2 * na);
    System.arraycopy(b, HDR, all, 2 * na, 2 * nb);
    Integer[] idx = new Integer[na + nb];
    long[] tie = new long[na + nb];
    for (int j = 0; j < idx.length; j++) {
      idx[j] = j;
      tie[j] = mix(seed ^ Double.doubleToLongBits(all[2 * j]));
    }
    Arrays.sort(idx, (x, y) -> {
      int c = Double.compare(all[2 * y + 1], all[2 * x + 1]);
      c = c != 0 ? c : Long.compare(tie[x], tie[y]);
      return c != 0 ? c : Double.compare(all[2 * x], all[2 * y]);
    });
    for (int j = 0; j < m; j++) {
      out[HDR + 2 * j] = all[2 * idx[j]];
      out[HDR + 2 * j + 1] = all[2 * idx[j] + 1];
    }
    return out;
  }

  @Override
  public Object finish(double[] b) {
    int n = (int) b[N];
    if (finish == Finish.STATE) {
      assignKeys(b);
      double[] out = new double[3 + 2 * n];
      out[0] = b[K] == 0 ? DEFAULT_K : b[K];
      out[1] = b[SS];
      out[2] = n;
      for (int j = 0; j < n; j++) {
        out[3 + j] = b[HDR + 2 * j];
        out[3 + n + j] = b[HDR + 2 * j + 1];
      }
      return out;
    }
    double[] sorted = new double[n];
    for (int j = 0; j < n; j++) {
      sorted[j] = b[HDR + 2 * j];
    }
    Arrays.sort(sorted);
    if (finish == Finish.SAMPLE) {
      return sorted;
    }
    if (n == 0) {
      return null; // empty => NULL, median.cc:295-298
    }
    double p = b[P] < 0 ? 0.5 : b[P];
    double v = sorted[Math.min((int) Math.floor(n * p), n - 1)]; // median.cc:299-301
    switch (finish) {
      case STRING:
        return Double.toString(v);
      case REF_FORMAT:
        return refFormat(v);
      default:
        return v;
    }
  }

  /** A {@link Finish#STATE} array read back into a keyed buffer. */
  private static double[] fromState(List<Object> flat) {
    int n = (int) (double) (Double) flat.get(2);
    double[] b = new double[HDR + 2 * n];
    b[K] = (Double) flat.get(0);
    b[SS] = (Double) flat.get(1);
    b[N] = n;
    b[P] = -1.0;
    for (int j = 0; j < n; j++) {
      b[HDR + 2 * j] = (Double) flat.get(3 + j);
      b[HDR + 2 * j + 1] = (Double) flat.get(3 + n + j);
    }
    return b;
  }

  /** C's %.6g, which is what the reference's ToStringVal stringstream
   * (default precision 6, median.cc:29-37) prints: "500", "51504.4",
   * "1e+07". */
  static String refFormat(double v) {
    if (Double.isNaN(v)) {
      return "nan";
    }
    if (Double.isInfinite(v)) {
      return v > 0 ? "inf" : "-inf";
    }
    if (v == 0.0) {
      return 1.0 / v < 0 ? "-0" : "0";
    }
    BigDecimal d = new BigDecimal(v).round(new MathContext(6, RoundingMode.HALF_EVEN));
    int x = d.precision() - d.scale() - 1; // decimal exponent after rounding
    if (x < -4 || x >= 6) {
      String mant = d.movePointLeft(x).stripTrailingZeros().toPlainString();
      int e = Math.abs(x);
      return mant + (x < 0 ? "e-" : "e+") + (e < 10 ? "0" : "") + e;
    }
    return d.stripTrailingZeros().toPlainString();
  }

  /** How plans print the aggregate (instead of an identity hash). */
  @Override
  public String toString() {
    return "AppxMedianBounded(" + input + ", " + finish + ", seed=" + seed + ")";
  }

  /** SplitMix64's finalizer. */
  private static long mix(long z) {
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L;
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL;
    return z ^ (z >>> 31);
  }

  /** Uniform double in [0, 1) from the top 53 bits. */
  private static double unit(long z) {
    return (z >>> 11) * 0x1.0p-53;
  }

  @Override
  public Encoder<double[]> bufferEncoder() {
    return DOUBLE_ARRAY;
  }

  @Override
  @SuppressWarnings("unchecked")
  public Encoder<Object> outputEncoder() {
    Encoder<?> enc;
    switch (finish) {
      case DOUBLE:
        enc = Encoders.DOUBLE();
        break;
      case SAMPLE:
      case STATE:
        enc = DOUBLE_ARRAY;
        break;
      default:
        enc = Encoders.STRING();
    }
    return (Encoder<Object>) enc;
  }
}

package shuttle_spark.jvm;

import java.io.Serializable;
import java.nio.ByteBuffer;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Iterator;
import java.util.List;
import org.apache.spark.api.java.function.FlatMapGroupsWithStateFunction;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.streaming.GroupState;
import org.apache.spark.util.LongAccumulator;

/** The keyed-recurrence fold of {@code streaming/core._keyed_recurrence},
 *  applied per key by {@code flatMapGroupsWithState} with an event-time
 *  timeout.  Input rows are {@code (key, ts, ts_us, order, payload)}; the
 *  state is the key's carry and its pending rows, packed into one
 *  {@code byte[]} (a {@code BinaryType} state, big-endian):
 *  <pre>
 *  int  carry length c, then c longs: the carry
 *  int  pending count n
 *  n x (long ts_us, long order)
 *  n payloads: a long (cents), or for text an int byte length (-1 for
 *              NULL) followed by that many bytes of UTF-8
 *  </pre>
 *  {@code streaming.core._kernel_state} decodes it in Python.
 *
 *  <p>Each call drops strictly-late rows ({@code ts_us < watermark_us},
 *  counted into {@code late}), appends the rest to the pending rows, sorts
 *  them by (ts, order) and hands them to the family's {@link Step}, which
 *  emits what the watermark has finalized and updates the carry.  While
 *  rows are pending the timeout is re-armed at
 *  {@code max(min_pending_ms + 1, watermark_ms + 1)}; a key with nothing
 *  pending and its initial carry is removed.  Each step is the same integer
 *  arithmetic as its numpy step in {@code streaming/core.py}. */
public class KeyedRecurrence implements FlatMapGroupsWithStateFunction<Row, Row, byte[], Row> {
  // input row fields
  private static final int US = 2, ORDER = 3, PAYLOAD = 4;
  /** A NULL cents value inside the long carry and pending rows. */
  static final long NULL_CENTS = -(1L << 62);

  private final Step step;
  private final LongAccumulator late;

  private KeyedRecurrence(Step step, LongAccumulator late) {
    this.step = step;
    this.late = late;
  }

  /** Latest row per key by (ts, order), emitted once its millisecond is
   *  before the watermark's; output {@code (key, ts_us, order, text)}. */
  public static KeyedRecurrence keepLatest(LongAccumulator late) {
    return new KeyedRecurrence(new KeepLatest(), late);
  }

  /** Rows whose cents deviate from the dyadic FIR of the key's last
   *  {@code window} finalized cents; output
   *  {@code (key, order, ts_us, cents, wsum, denom)}. */
  public static KeyedRecurrence ewma(
      LongAccumulator late, long thresholdCents, int window, int minLags) {
    return new KeyedRecurrence(new Ewma(thresholdCents, window, minLags), late);
  }

  /** Every finalized row with its cents carried forward over NULLs;
   *  output {@code (key, order, ts_us, cents, was_filled)}. */
  public static KeyedRecurrence locf(LongAccumulator late) {
    return new KeyedRecurrence(new Locf(), late);
  }

  /** Page's one-sided CUSUM of {@code cents - drift}; output
   *  {@code (key, order, ts_us, stat_cents, is_alert)}. */
  public static KeyedRecurrence cusum(
      LongAccumulator late, long drift, long thresholdCents, long scale) {
    return new KeyedRecurrence(new Cusum(drift, thresholdCents, scale), late);
  }

  @Override
  public Iterator<Row> call(Row key, Iterator<Row> rows, GroupState<byte[]> state) {
    long wmMs = state.getCurrentWatermarkMs();
    long wmUs = wmMs * 1000;
    Pending p = state.exists() ? new Pending(state.get(), step.text()) : new Pending(step);
    long dropped = 0;
    while (rows.hasNext()) {
      Row r = rows.next();
      long us = r.getLong(US);
      if (us < wmUs) {  // the late rule
        dropped++;
      } else if (step.ingest(r)) {
        p.add(us, r.getLong(ORDER), step.payload(r));
      }
    }
    if (dropped > 0) {
      late.add(dropped);
    }
    List<Row> out = new ArrayList<>();
    if (p.n > 0) {
      p.sort();
      p.keepFrom(step.run(key.get(0), p, wmUs, out));
    }
    if (p.n == 0 && Arrays.equals(p.carry, step.initialCarry())) {
      if (state.exists()) {
        state.remove();
      }
    } else {
      state.update(p.toBytes(step.text()));
      if (p.n > 0) {
        state.setTimeoutTimestamp(Math.max(Math.floorDiv(p.ts[0], 1000) + 1, wmMs + 1));
      }
    }
    return out.iterator();
  }

  /** A key's carry and its pending rows: event time, order and payload
   *  (the text of keep-latest, the cents of the other families). */
  static final class Pending {
    final long[] carry;
    int n;
    long[] ts, ord;
    Object[] payload;

    Pending(Step step) {
      carry = step.initialCarry().clone();
      ts = new long[8];
      ord = new long[8];
      payload = new Object[8];
    }

    /** Unpack a state written by {@link #toBytes}. */
    Pending(byte[] state, boolean text) {
      ByteBuffer b = ByteBuffer.wrap(state);
      carry = new long[b.getInt()];
      for (int i = 0; i < carry.length; i++) {
        carry[i] = b.getLong();
      }
      n = b.getInt();
      int cap = Math.max(8, n);
      ts = new long[cap];
      ord = new long[cap];
      payload = new Object[cap];
      for (int i = 0; i < n; i++) {
        ts[i] = b.getLong();
        ord[i] = b.getLong();
      }
      for (int i = 0; i < n; i++) {
        if (!text) {
          payload[i] = b.getLong();
        } else {
          int len = b.getInt();
          if (len >= 0) {
            payload[i] = new String(state, b.position(), len, StandardCharsets.UTF_8);
            b.position(b.position() + len);
          }
        }
      }
    }

    long cents(int i) {
      return (Long) payload[i];
    }

    void add(long us, long order, Object value) {
      if (n == ts.length) {
        ts = Arrays.copyOf(ts, 2 * n);
        ord = Arrays.copyOf(ord, 2 * n);
        payload = Arrays.copyOf(payload, 2 * n);
      }
      ts[n] = us;
      ord[n] = order;
      payload[n++] = value;
    }

    private boolean before(int a, int b) {
      return ts[a] < ts[b] || (ts[a] == ts[b] && ord[a] < ord[b]);
    }

    /** Stable sort by (ts, order): stored rows first, then arrivals. */
    void sort() {
      boolean sorted = true;
      for (int i = 1; i < n && sorted; i++) {
        sorted = !before(i, i - 1);
      }
      if (sorted) {
        return;
      }
      Integer[] idx = new Integer[n];
      for (int i = 0; i < n; i++) {
        idx[i] = i;
      }
      Arrays.sort(idx, (a, b) -> before(a, b) ? -1 : before(b, a) ? 1 : 0);
      long[] t = new long[ts.length], o = new long[ts.length];
      Object[] v = new Object[ts.length];
      for (int i = 0; i < n; i++) {
        t[i] = ts[idx[i]];
        o[i] = ord[idx[i]];
        v[i] = payload[idx[i]];
      }
      ts = t;
      ord = o;
      payload = v;
    }

    /** Keep the rows from index {@code first} on (the ones still pending). */
    void keepFrom(int first) {
      n -= first;
      System.arraycopy(ts, first, ts, 0, n);
      System.arraycopy(ord, first, ord, 0, n);
      System.arraycopy(payload, first, payload, 0, n);
    }

    /** The state blob of the class doc; {@code text} payloads are
     *  strings, the others longs. */
    byte[] toBytes(boolean text) {
      int size = 8 + 8 * carry.length + 16 * n + (text ? 4 : 8) * n;
      byte[][] utf8 = new byte[text ? n : 0][];
      for (int i = 0; i < utf8.length; i++) {
        String s = (String) payload[i];
        utf8[i] = s == null ? null : s.getBytes(StandardCharsets.UTF_8);
        size += s == null ? 0 : utf8[i].length;
      }
      ByteBuffer b = ByteBuffer.allocate(size);
      b.putInt(carry.length);
      for (long c : carry) {
        b.putLong(c);
      }
      b.putInt(n);
      for (int i = 0; i < n; i++) {
        b.putLong(ts[i]).putLong(ord[i]);
      }
      for (int i = 0; i < n; i++) {
        if (!text) {
          b.putLong((Long) payload[i]);
        } else if (utf8[i] == null) {
          b.putInt(-1);
        } else {
          b.putInt(utf8[i].length).put(utf8[i]);
        }
      }
      return b.array();
    }
  }

  /** One family: what a row contributes, and what the sorted pending rows
   *  of one key emit under watermark {@code wmUs}. */
  abstract static class Step implements Serializable {
    abstract long[] initialCarry();

    /** Whether the payload is text (else a long). */
    boolean text() {
      return false;
    }

    /** Whether row {@code r} enters the pending rows. */
    boolean ingest(Row r) {
      return true;
    }

    /** Append the emitted rows to {@code out}, update {@code p.carry} and
     *  return the index of the first row still pending (the finalized
     *  rows are a prefix of the sorted pending rows). */
    abstract int run(Object key, Pending p, long wmUs, List<Row> out);

    /** What row {@code r} keeps while pending. */
    abstract Object payload(Row r);

    /** The row's value, NaN where NULL (as pandas reads it). */
    static double value(Row r) {
      return r.isNullAt(PAYLOAD) ? Double.NaN : r.getDouble(PAYLOAD);
    }

    /** {@code floor(v * scale + 0.5)}, NaN read as 0: numpy's
     *  {@code _cents}. */
    static long cents(double v, long scale) {
      return (long) Math.floor((Double.isNaN(v) ? 0.0 : v) * scale + 0.5);
    }

    /** Rows at or before the watermark are finalized. */
    static int finalized(Pending p, long wmUs) {
      int f = 0;
      while (f < p.n && p.ts[f] <= wmUs) {
        f++;
      }
      return f;
    }
  }

  static final class KeepLatest extends Step {
    private static final long[] NONE = new long[0];

    @Override
    long[] initialCarry() {
      return NONE;
    }

    @Override
    boolean text() {
      return true;
    }

    @Override
    Object payload(Row r) {
      return r.getString(PAYLOAD);
    }

    @Override
    int run(Object key, Pending p, long wmUs, List<Row> out) {
      int last = p.n - 1;
      if (Math.floorDiv(p.ts[last], 1000) < Math.floorDiv(wmUs, 1000)) {
        out.add(RowFactory.create(key, p.ts[last], p.ord[last], p.payload[last]));
        return p.n;
      }
      return last;
    }
  }

  static final class Ewma extends Step {
    private final long threshold;
    private final int window, minLags;
    private final long[] weights, cumdenom;

    Ewma(long threshold, int window, int minLags) {
      this.threshold = threshold;
      this.window = window;
      this.minLags = minLags;
      weights = new long[window];
      cumdenom = new long[window + 1];
      for (int j = 1; j <= window; j++) {
        weights[j - 1] = 1L << (window - j);
        cumdenom[j] = cumdenom[j - 1] + weights[j - 1];
      }
    }

    /** The last {@code window} finalized cents, right-aligned and
     *  zero-filled, then their count. */
    @Override
    long[] initialCarry() {
      return new long[window + 1];
    }

    @Override
    boolean ingest(Row r) {
      return !Double.isNaN(value(r));
    }

    @Override
    Object payload(Row r) {
      return cents(value(r), 100);
    }

    @Override
    int run(Object key, Pending p, long wmUs, List<Row> out) {
      long[] hist = p.carry;
      int f = finalized(p, wmUs);
      for (int i = 0; i < f; i++) {
        long x = p.cents(i);
        int nLags = (int) Math.min(window, hist[window]);
        long wsum = 0;
        for (int j = 1; j <= nLags; j++) {
          wsum += hist[window - j] * weights[j - 1];
        }
        long denom = cumdenom[nLags];
        if (nLags >= minLags && Math.abs(x * denom - wsum) > threshold * denom) {
          out.add(RowFactory.create(key, p.ord[i], p.ts[i], x, wsum, denom));
        }
        System.arraycopy(hist, 1, hist, 0, window - 1);
        hist[window - 1] = x;
        hist[window] = Math.min(window, hist[window] + 1);
      }
      return f;
    }
  }

  static final class Locf extends Step {
    @Override
    long[] initialCarry() {
      return new long[] {NULL_CENTS};
    }

    @Override
    Object payload(Row r) {
      double v = value(r);
      return Double.isNaN(v) ? NULL_CENTS : cents(v, 100);
    }

    @Override
    int run(Object key, Pending p, long wmUs, List<Row> out) {
      int f = finalized(p, wmUs);
      for (int i = 0; i < f; i++) {
        long raw = p.cents(i);
        long eff = raw != NULL_CENTS ? raw : p.carry[0];
        p.carry[0] = eff;
        boolean none = eff == NULL_CENTS;
        out.add(RowFactory.create(
            key, p.ord[i], p.ts[i], none ? null : eff, raw == NULL_CENTS && !none));
      }
      return f;
    }
  }

  static final class Cusum extends Step {
    private final long drift, threshold, scale;

    Cusum(long drift, long threshold, long scale) {
      this.drift = drift;
      this.threshold = threshold;
      this.scale = scale;
    }

    /** {@code c}, the running deviation sum, and {@code m}, min(0, the
     *  running min of c). */
    @Override
    long[] initialCarry() {
      return new long[2];
    }

    @Override
    Object payload(Row r) {
      return cents(value(r), scale);
    }

    @Override
    int run(Object key, Pending p, long wmUs, List<Row> out) {
      int f = finalized(p, wmUs);
      for (int i = 0; i < f; i++) {
        p.carry[0] += p.cents(i) - drift;
        p.carry[1] = Math.min(p.carry[1], p.carry[0]);
        long stat = p.carry[0] - p.carry[1];
        out.add(RowFactory.create(key, p.ord[i], p.ts[i], stat, stat > threshold));
      }
      return f;
    }
  }
}

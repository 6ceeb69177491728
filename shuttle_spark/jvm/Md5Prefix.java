package shuttle_spark.jvm;

import java.security.MessageDigest;
import java.security.NoSuchAlgorithmException;
import org.apache.spark.sql.api.java.UDF2;

/** {@code shuttle_md5_prefix(bytes, bits)}: the first {@code bits} bits of
 *  md5(bytes), read big-endian as a non-negative long; NULL bytes give NULL.
 *  Equal to Spark's {@code conv(substring(md5(x), 1, bits / 4), 16, 10)}
 *  cast to long, without the hex string and its two re-parses per row.
 *  One {@link MessageDigest} per task thread. */
public class Md5Prefix implements UDF2<byte[], Integer, Long> {
  private static final ThreadLocal<MessageDigest> MD5 = ThreadLocal.withInitial(() -> {
    try {
      return MessageDigest.getInstance("MD5");
    } catch (NoSuchAlgorithmException e) {
      throw new IllegalStateException(e);
    }
  });

  @Override
  public Long call(byte[] bytes, Integer bits) {
    if (bytes == null) {
      return null;
    }
    byte[] digest = MD5.get().digest(bytes);
    int nBytes = (bits + 7) / 8;
    long v = 0;
    for (int i = 0; i < nBytes; i++) {
      v = (v << 8) | (digest[i] & 0xff);
    }
    return v >>> (8 * nBytes - bits);
  }
}

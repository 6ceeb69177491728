package shuttle_spark.jvm;

import java.util.LinkedHashSet;
import org.apache.spark.sql.api.java.UDF2;

/** {@code shuttle_shingles(text, n)}: the distinct word n-grams of
 *  {@code text} in first-seen order; NULL text, or fewer than {@code n}
 *  words, gives an empty array.  Words are the pieces of
 *  {@code text.split(" ", -1)}, which is Spark's {@code split(text, ' ')},
 *  and a gram is {@code n} consecutive words joined by one space.  With a
 *  one-character separator that join is the substring from the first
 *  word's start to the last word's end, so each gram is one substring
 *  and no word array is built. */
public class Shingles implements UDF2<String, Integer, String[]> {
  private static final String[] NONE = new String[0];

  @Override
  public String[] call(String text, Integer n) {
    if (text == null) {
      return NONE;
    }
    // starts[i]: offset of word i; word i ends at starts[i + 1] - 1
    int words = 1;
    for (int i = 0; i < text.length(); i++) {
      if (text.charAt(i) == ' ') {
        words++;
      }
    }
    if (words < n) {
      return NONE;
    }
    int[] starts = new int[words + 1];
    int w = 1;
    for (int i = 0; i < text.length(); i++) {
      if (text.charAt(i) == ' ') {
        starts[w++] = i + 1;
      }
    }
    starts[words] = text.length() + 1;
    LinkedHashSet<String> grams = new LinkedHashSet<>();
    for (int i = 0; i + n <= words; i++) {
      grams.add(text.substring(starts[i], starts[i + n] - 1));
    }
    return grams.toArray(NONE);
  }
}

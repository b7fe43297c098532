package sparkgraft;

import java.nio.charset.StandardCharsets;
import java.util.Base64;

import org.apache.spark.sql.api.java.UDF1;

/**
 * JVM-side decoder for the sf.substreams.sink.entity.v1.EntityChanges
 * proto3 wire format: BINARY payload -> JSON array string, one object per
 * entity change, in the engine's JSONL "Typed" shape so from_json() lifts
 * it straight into PROTO_PARSED_SCHEMA.  A from-spec hand decoder
 * (varints, length-delimited submessages, unknown-field skip, last-oneof-
 * wins merge) — no protobuf runtime, no spark-protobuf jar; behavior is
 * differential-tested bit-for-bit against the pure-Python wire codec
 * (sources/protobuf.py, itself golden-tested), mirroring the reference's
 * generated-bindings decode at sinker.go:213-215.
 *
 * Wire schema (sources/protobuf.py): EntityChanges.5 = repeated
 * EntityChange{1:entity,2:id,3:ordinal,4:operation,5:repeated
 * Field{1:name,3:new_value,5:old_value}}; Value oneof
 * {1:int32,2:bigdecimal,3:bigint,4:string,5:bytes,6:bool,10:Array{1:
 * repeated Value}}.  old_value decodes are skipped (the engine schema,
 * like the reference's processor, only consumes new_value).
 */
public class EntityChangesJsonUdf implements UDF1<byte[], String> {

  @Override
  public String call(byte[] buf) {
    if (buf == null) {
      return null;
    }
    StringBuilder sb = new StringBuilder(buf.length * 2 + 16);
    sb.append('[');
    boolean first = true;
    int pos = 0;
    while (pos < buf.length) {
      long tag = readVarint(buf, pos);
      pos = cursor;
      int num = (int) (tag >>> 3);
      int wt = (int) (tag & 7);
      if (num == 5 && wt == 2) {
        int len = readLen(buf, pos, buf.length);
        pos = cursor;
        if (!first) {
          sb.append(',');
        }
        first = false;
        change(buf, pos, pos + len, sb);
        pos += len;
      } else {
        pos = skip(buf, pos, wt, buf.length);
      }
    }
    sb.append(']');
    return sb.toString();
  }

  /** Shared scan cursor (UDF instances are single-threaded per task). */
  private int cursor;

  private long readVarint(byte[] b, int pos) {
    long v = 0;
    int shift = 0;
    while (true) {
      if (pos >= b.length) {
        throw new IllegalArgumentException("truncated varint");
      }
      long x = b[pos++] & 0xFFL;
      v |= (x & 0x7F) << shift;
      if ((x & 0x80) == 0) {
        cursor = pos;
        return v;
      }
      shift += 7;
      if (shift >= 64) {
        throw new IllegalArgumentException("varint too long");
      }
    }
  }

  private int skip(byte[] b, int pos, int wt, int end) {
    switch (wt) {
      case 0:
        readVarint(b, pos);
        return cursor;
      case 1:
        if (pos + 8 > end) {
          throw new IllegalArgumentException("truncated length-delimited field");
        }
        return pos + 8;
      case 2:
        int len = readLen(b, pos, end);
        return cursor + len;
      case 5:
        if (pos + 4 > end) {
          throw new IllegalArgumentException("truncated length-delimited field");
        }
        return pos + 4;
      default:
        throw new IllegalArgumentException("unsupported wire type " + wt);
    }
  }

  /** Read a length prefix and validate it fits inside the enclosing
   * message [cursor, end) — a varint above 2^31 or past-the-end length
   * must fail loudly (same contract as the Python codec's
   * ValueError("truncated length-delimited field")), never wrap negative
   * and walk the scan cursor backwards. */
  private int readLen(byte[] b, int pos, int end) {
    long len = readVarint(b, pos);
    if (len < 0 || len > end - cursor) {
      throw new IllegalArgumentException("truncated length-delimited field");
    }
    return (int) len;
  }

  private void change(byte[] b, int start, int end, StringBuilder sb) {
    String entity = "";
    String id = "";
    long operation = 0;
    StringBuilder fields = new StringBuilder();
    boolean firstField = true;
    int pos = start;
    while (pos < end) {
      long tag = readVarint(b, pos);
      pos = cursor;
      int num = (int) (tag >>> 3);
      int wt = (int) (tag & 7);
      if (wt == 2) {
        int len = readLen(b, pos, end);
        pos = cursor;
        if (num == 1) {
          entity = utf8(b, pos, pos + len);
        } else if (num == 2) {
          id = utf8(b, pos, pos + len);
        } else if (num == 5) {
          if (!firstField) {
            fields.append(',');
          }
          firstField = false;
          field(b, pos, pos + len, fields);
        }
        pos += len;
      } else if (wt == 0) {
        long v = readVarint(b, pos);
        pos = cursor;
        if (num == 4) {
          operation = v;
        } // num == 3 (ordinal) and unknown varints: decoded and dropped
      } else {
        pos = skip(b, pos, wt, end);
      }
    }
    sb.append("{\"entity\":");
    jsonString(entity, sb);
    sb.append(",\"id\":");
    jsonString(id, sb);
    sb.append(",\"operation\":").append(operation);
    sb.append(",\"fields\":[").append(fields).append("]}");
  }

  private void field(byte[] b, int start, int end, StringBuilder sb) {
    String name = "";
    int newValStart = -1;
    int newValEnd = -1;
    int pos = start;
    while (pos < end) {
      long tag = readVarint(b, pos);
      pos = cursor;
      int num = (int) (tag >>> 3);
      int wt = (int) (tag & 7);
      if (wt == 2) {
        int len = readLen(b, pos, end);
        pos = cursor;
        if (num == 1) {
          name = utf8(b, pos, pos + len);
        } else if (num == 3) {
          newValStart = pos;
          newValEnd = pos + len;
        } // num == 5 (old_value) skipped by design
        pos += len;
      } else {
        pos = skip(b, pos, wt, end);
      }
    }
    sb.append("{\"name\":");
    jsonString(name, sb);
    if (newValStart >= 0) {
      sb.append(",\"new_value\":{\"Typed\":");
      value(b, newValStart, newValEnd, sb);
      sb.append('}');
    }
    sb.append('}');
  }

  /** Value message -> the Typed oneof JSON ({"Int32":5} etc.) or null;
   * last-set oneof member wins, matching protobuf merge semantics. */
  private void value(byte[] b, int start, int end, StringBuilder sb) {
    String rendered = null;
    int pos = start;
    while (pos < end) {
      long tag = readVarint(b, pos);
      pos = cursor;
      int num = (int) (tag >>> 3);
      int wt = (int) (tag & 7);
      if (wt == 0) {
        long v = readVarint(b, pos);
        pos = cursor;
        if (num == 1) {
          rendered = "{\"Int32\":" + (int) v + "}";
        } else if (num == 6) {
          rendered = "{\"Boolean\":" + (v != 0) + "}";
        }
      } else if (wt == 2) {
        int len = readLen(b, pos, end);
        pos = cursor;
        StringBuilder one = new StringBuilder();
        if (num == 2 || num == 3 || num == 4) {
          one.append("{\"").append(num == 2 ? "Bigdecimal" : num == 3 ? "Bigint" : "String_")
              .append("\":");
          jsonString(utf8(b, pos, pos + len), one);
          one.append('}');
          rendered = one.toString();
        } else if (num == 5) {
          one.append("{\"Bytes\":\"")
              .append(Base64.getEncoder().encodeToString(slice(b, pos, pos + len)))
              .append("\"}");
          rendered = one.toString();
        } else if (num == 10) {
          one.append("{\"Array\":{\"value\":[");
          boolean firstEl = true;
          int p2 = pos;
          int e2 = pos + len;
          while (p2 < e2) {
            long t2 = readVarint(b, p2);
            p2 = cursor;
            int n2 = (int) (t2 >>> 3);
            int w2 = (int) (t2 & 7);
            if (n2 == 1 && w2 == 2) {
              int l2 = readLen(b, p2, e2);
              p2 = cursor;
              if (!firstEl) {
                one.append(',');
              }
              firstEl = false;
              one.append("{\"Typed\":");
              value(b, p2, p2 + l2, one);
              one.append('}');
              p2 += l2;
            } else {
              p2 = skip(b, p2, w2, e2);
            }
          }
          one.append("]}}");
          rendered = one.toString();
        }
        pos += len;
      } else {
        pos = skip(b, pos, wt, end);
      }
    }
    sb.append(rendered == null ? "null" : rendered);
  }

  private static byte[] slice(byte[] b, int start, int end) {
    byte[] out = new byte[end - start];
    System.arraycopy(b, start, out, 0, end - start);
    return out;
  }

  private static String utf8(byte[] b, int start, int end) {
    return new String(b, start, end - start, StandardCharsets.UTF_8);
  }

  private static void jsonString(String s, StringBuilder sb) {
    sb.append('"');
    for (int i = 0; i < s.length(); i++) {
      char c = s.charAt(i);
      switch (c) {
        case '"':
          sb.append("\\\"");
          break;
        case '\\':
          sb.append("\\\\");
          break;
        case '\b':
          sb.append("\\b");
          break;
        case '\f':
          sb.append("\\f");
          break;
        case '\n':
          sb.append("\\n");
          break;
        case '\r':
          sb.append("\\r");
          break;
        case '\t':
          sb.append("\\t");
          break;
        default:
          if (c < 0x20) {
            sb.append(String.format("\\u%04x", (int) c));
          } else {
            sb.append(c);
          }
      }
    }
    sb.append('"');
  }
}

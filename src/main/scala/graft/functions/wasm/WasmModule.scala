package graft.functions.wasm

import scala.collection.mutable.ArrayBuffer

/** From-spec decoder for the WebAssembly binary format (W3C WebAssembly
  * Core Specification, §5 "Binary Format") — the subset needed to host
  * the reference's byte-transform modules
  * (/root/reference/crates/esvc-wasm/src/lib.rs:36-77): single linear
  * memory, i32 value type, funcref tables + active element segments
  * (rustc's function-pointer dispatch), bulk-memory `memory.copy`/
  * `memory.fill`, and the sign-extension ops. Imports stay rejected —
  * the sandbox is closed.
  *
  * Deliberately NOT a full validator: modules are decoded structurally
  * and trapped at runtime on anything out of bounds. The subset is
  * documented per-opcode in [[Instr]]; anything outside it fails
  * loudly at decode time.
  */
final case class WasmTrap(msg: String) extends RuntimeException(msg)

sealed trait Instr
object Instr {
  case object Unreachable extends Instr
  case object Nop extends Instr
  /** blockType: -1 = empty (0x40), else number of result values (0 or 1) */
  final case class Block(results: Int, body: Vector[Instr]) extends Instr
  final case class Loop(results: Int, body: Vector[Instr]) extends Instr
  final case class If(results: Int, thn: Vector[Instr], els: Vector[Instr]) extends Instr
  final case class Br(depth: Int) extends Instr
  final case class BrIf(depth: Int) extends Instr
  /** spec §5.4.1 `br_table l* l_N`: pop selector, branch to
    * `targets(sel)` or `default` when out of range.
    */
  final case class BrTable(targets: Vector[Int], default: Int) extends Instr
  case object Return extends Instr
  final case class Call(func: Int) extends Instr
  /** spec §5.4.3 `call_indirect x y`: pop table element index, call
    * the function found in the table, checking its type against
    * `typeIdx` (rustc dispatches trait objects / fn pointers this way).
    */
  final case class CallIndirect(typeIdx: Int) extends Instr
  case object Drop extends Instr
  case object Select extends Instr
  final case class LocalGet(i: Int) extends Instr
  final case class LocalSet(i: Int) extends Instr
  final case class LocalTee(i: Int) extends Instr
  final case class GlobalGet(i: Int) extends Instr
  final case class GlobalSet(i: Int) extends Instr
  /** width: 8 = i64.load, 4 = i32.load / i64.load32, 2 = load16,
    * 1 = load8; signed affects widths below the value width. `wide`
    * marks the i64-typed variants — only observable for width-4
    * unsigned (i64.load32_u zero-extends where i32.load keeps the
    * canonical sign-extended representation).
    */
  final case class Load(width: Int, signed: Boolean, offset: Int,
                        wide: Boolean = false) extends Instr
  final case class Store(width: Int, offset: Int) extends Instr
  case object MemorySize extends Instr
  case object MemoryGrow extends Instr
  /** Bulk-memory (spec §5.4.7, 0xFC prefix) — rustc emits these for
    * memcpy/memset since LLVM enabled bulk-memory by default.
    */
  case object MemoryCopy extends Instr
  case object MemoryFill extends Instr
  final case class I32Const(v: Int) extends Instr
  final case class I64Const(v: Long) extends Instr
  /** i32.extend8_s / i32.extend16_s (sign-extension proposal, in core
    * since 2.0; rustc emits them for i8/i16 widening).
    */
  final case class SignExtend(width: Int) extends Instr
  /** Numeric/comparison/conversion op by opcode — the i32 set
    * (0x45-0x78), the i64 set (0x50-0x5a, 0x79-0x8a), and the int
    * conversions (wrap 0xa7, extend 0xac/0xad, i64.extendN_s
    * 0xc2-0xc4). Floats are not in the set.
    */
  final case class NumOp(opcode: Int) extends Instr
}

final case class FuncType(params: Int, results: Int)
final case class FuncDef(tpe: FuncType, locals: Int, body: Vector[Instr])
final case class GlobalDef(mutable: Boolean, init: Int)
final case class DataSeg(offset: Int, bytes: Array[Byte])

final case class WasmModule(
    types: Vector[FuncType],
    funcs: Vector[FuncDef],
    memMinPages: Int,
    memMaxPages: Int,
    globals: Vector[GlobalDef],
    /** export name -> ("func", idx) | ("memory", 0) */
    exports: Map[String, (String, Int)],
    data: Vector[DataSeg],
    /** funcref table contents (element index -> func index, -1 = null
      * entry); rustc's function-pointer table.
      */
    table: Vector[Int] = Vector.empty)

object WasmModule {
  /** Deepest control nesting a module may reach: function calls plus
    * the blocks/loops/ifs open inside them at run time, and block
    * nesting within one body at decode time. Both the interpreter and
    * the decoder recurse once per level, so this fixed bound is what
    * keeps a hostile or runaway module a [[WasmTrap]] instead of a
    * host StackOverflowError. Sized for the JVM's default 1 MiB thread
    * stack: cold (interpreted) runaway recursion overflowed it at ~880
    * calls, ~1.2 KB per call. The checked-in compiler-output fixtures
    * nest at most 15 deep.
    */
  val MaxDepth: Int = 500

  /** Decode a binary module. Throws [[WasmTrap]] on malformed input or
    * constructs outside the hosted subset.
    */
  def decode(wasm: Array[Byte]): WasmModule = new Decoder(wasm).module()

  private final class Decoder(b: Array[Byte]) {
    private var p = 0
    private var nesting = 0 // blocks open in the body being decoded
    private def u8(): Int = {
      if (p >= b.length) throw WasmTrap("unexpected end of module")
      val v = b(p) & 0xff; p += 1; v
    }
    private def bytes(n: Int): Array[Byte] = {
      if (p + n > b.length) throw WasmTrap("unexpected end of module")
      val a = java.util.Arrays.copyOfRange(b, p, p + n); p += n; a
    }
    /** unsigned LEB128 (spec §5.2.2) */
    private def uleb(): Int = {
      var result = 0; var shift = 0; var byte = 0
      while ({ byte = u8(); (byte & 0x80) != 0 }) {
        result |= (byte & 0x7f) << shift; shift += 7
        if (shift > 35) throw WasmTrap("uleb overflow")
      }
      result | (byte << shift)
    }
    /** signed LEB128 (spec §5.2.2) */
    private def sleb(): Int = {
      var result = 0; var shift = 0; var byte = 0
      while ({ byte = u8(); shift += 7; result |= (byte & 0x7f) << (shift - 7); (byte & 0x80) != 0 }) {
        if (shift > 35) throw WasmTrap("sleb overflow")
      }
      if (shift < 32 && (byte & 0x40) != 0) result | (-1 << shift) else result
    }
    /** signed LEB128, 64-bit (for i64.const) */
    private def sleb64(): Long = {
      var result = 0L; var shift = 0; var byte = 0
      while ({ byte = u8(); shift += 7; result |= (byte & 0x7f).toLong << (shift - 7); (byte & 0x80) != 0 }) {
        if (shift > 70) throw WasmTrap("sleb64 overflow")
      }
      if (shift < 64 && (byte & 0x40) != 0) result | (-1L << shift) else result
    }

    def module(): WasmModule = {
      if (uleb32raw() != 0x6d736100) throw WasmTrap("bad magic")
      if (uleb32raw() != 1) throw WasmTrap("unsupported wasm version")
      var types = Vector.empty[FuncType]
      var funcTypeIdx = Vector.empty[Int]
      var memMin = 0
      var memMax = 65536
      var globals = Vector.empty[GlobalDef]
      var exports = Map.empty[String, (String, Int)]
      var bodies = Vector.empty[(Int, Vector[Instr])] // (locals, body)
      var data = Vector.empty[DataSeg]
      var tableSize = 0
      var elems = Vector.empty[(Int, Vector[Int])] // (offset, func indices)
      while (p < b.length) {
        val id = u8()
        val size = uleb()
        val end = p + size
        id match {
          case 1 => // type section
            val n = uleb()
            types = Vector.fill(n) {
              if (u8() != 0x60) throw WasmTrap("expected functype")
              val np = uleb(); (0 until np).foreach { _ =>
                if (!isIntType(u8())) throw WasmTrap("only i32/i64 params supported")
              }
              val nr = uleb(); (0 until nr).foreach { _ =>
                if (!isIntType(u8())) throw WasmTrap("only i32/i64 results supported")
              }
              FuncType(np, nr)
            }
          case 2 => throw WasmTrap("imports not supported (sandbox is closed)")
          case 3 => // function section
            val n = uleb(); funcTypeIdx = Vector.fill(n)(uleb())
          case 4 => // table section (funcref only)
            val n = uleb()
            if (n > 1) throw WasmTrap("at most one table")
            if (n == 1) {
              if (u8() != 0x70) throw WasmTrap("only funcref tables supported")
              val flags = u8(); tableSize = uleb()
              if ((flags & 1) != 0) { val _ = uleb() } // max ignored (table is fixed here)
            }
          case 5 => // memory section
            val n = uleb()
            if (n > 1) throw WasmTrap("at most one memory")
            if (n == 1) {
              val flags = u8(); memMin = uleb()
              if ((flags & 1) != 0) memMax = uleb()
            }
          case 6 => // global section
            val n = uleb()
            globals = Vector.fill(n) {
              if (u8() != 0x7f) throw WasmTrap("only i32 globals supported")
              val mut = u8() == 1
              if (u8() != 0x41) throw WasmTrap("global init must be i32.const")
              val v = sleb()
              if (u8() != 0x0b) throw WasmTrap("global init must end")
              GlobalDef(mut, v)
            }
          case 7 => // export section
            val n = uleb()
            (0 until n).foreach { _ =>
              val name = new String(bytes(uleb()), "UTF-8")
              val kind = u8(); val idx = uleb()
              kind match {
                case 0 => exports += name -> (("func", idx))
                case 2 => exports += name -> (("memory", idx))
                case _ => () // tables/globals exports ignored
              }
            }
          case 9 => // element section: active funcref segments, flags=0
            val n = uleb()
            elems = Vector.fill(n) {
              if (uleb() != 0) throw WasmTrap("only active element segments in table 0")
              if (u8() != 0x41) throw WasmTrap("element offset must be i32.const")
              val off = sleb()
              if (u8() != 0x0b) throw WasmTrap("element offset must end")
              (off, Vector.fill(uleb())(uleb()))
            }
          case 10 => // code section
            val n = uleb()
            bodies = Vector.fill(n) {
              val bodySize = uleb()
              val bodyEnd = p + bodySize
              var locals = 0
              val nGroups = uleb()
              (0 until nGroups).foreach { _ =>
                val cnt = uleb()
                if (!isIntType(u8())) throw WasmTrap("only i32/i64 locals supported")
                locals += cnt
              }
              val instrs = exprSeq()
              if (p != bodyEnd) throw WasmTrap("code body size mismatch")
              (locals, instrs)
            }
          case 11 => // data section
            val n = uleb()
            data = Vector.fill(n) {
              if (uleb() != 0) throw WasmTrap("only active data in memory 0")
              if (u8() != 0x41) throw WasmTrap("data offset must be i32.const")
              val off = sleb()
              if (u8() != 0x0b) throw WasmTrap("data offset must end")
              DataSeg(off, bytes(uleb()))
            }
          case _ => p = end // custom/unused sections skipped
        }
        if (p != end) throw WasmTrap(s"section $id size mismatch")
      }
      if (funcTypeIdx.length != bodies.length) throw WasmTrap("func/code count mismatch")
      val funcs = funcTypeIdx.zip(bodies).map { case (ti, (locals, body)) =>
        FuncDef(types.lift(ti).getOrElse(throw WasmTrap("bad type index")), locals, body)
      }
      val table = {
        val t = Array.fill(tableSize)(-1)
        elems.foreach { case (off, fidx) =>
          if (off < 0 || off + fidx.length > t.length)
            throw WasmTrap("element segment out of table bounds")
          fidx.zipWithIndex.foreach { case (f, k) =>
            if (f < 0 || f >= funcs.length)
              throw WasmTrap(s"element func index $f out of range (${funcs.length} funcs)")
            t(off + k) = f
          }
        }
        t.toVector
      }
      WasmModule(types, funcs, memMin, memMax, globals, exports, data, table)
    }

    /** 4 raw little-endian bytes (magic/version are not LEB). */
    private def uleb32raw(): Int =
      u8() | (u8() << 8) | (u8() << 16) | (u8() << 24)

    /** i32 (0x7f) or i64 (0x7e) — the two value types the Long-based
      * interpreter carries (floats/refs stay unsupported).
      */
    private def isIntType(t: Int): Boolean = t == 0x7f || t == 0x7e

    private def blockType(): Int = u8() match {
      case 0x40 => -1 // empty
      case 0x7f | 0x7e => 1 // [i32] / [i64]
      case other => throw WasmTrap(f"unsupported block type 0x$other%02x")
    }

    /** Parse instructions until the matching `end` (consumed). */
    private def exprSeq(): Vector[Instr] =
      exprUntil(allowElse = false)._1

    /** Parse until `end` (0x0b) or — when allowed — `else` (0x05);
      * the terminator is consumed. Returns (instrs, endedAtElse).
      */
    private def exprUntil(allowElse: Boolean): (Vector[Instr], Boolean) = {
      if (nesting >= MaxDepth) throw WasmTrap(s"blocks nested deeper than $MaxDepth")
      nesting += 1
      val r = exprBody(allowElse)
      nesting -= 1
      r
    }

    private def exprBody(allowElse: Boolean): (Vector[Instr], Boolean) = {
      import Instr._
      val out = ArrayBuffer.empty[Instr]
      while (true) {
        u8() match {
          case 0x0b => return (out.toVector, false)
          case 0x05 if allowElse => return (out.toVector, true)
          case 0x00 => out += Unreachable
          case 0x01 => out += Nop
          case 0x02 => out += Block(math.max(blockType(), 0), exprSeq())
          case 0x03 => out += Loop(math.max(blockType(), 0), exprSeq())
          case 0x04 =>
            val bt = math.max(blockType(), 0)
            val (thn, hasElse) = exprUntil(allowElse = true)
            val els = if (hasElse) exprSeq() else Vector.empty[Instr]
            out += If(bt, thn, els)
          case 0x0c => out += Br(uleb())
          case 0x0d => out += BrIf(uleb())
          case 0x0e =>
            val n = uleb()
            val targets = Vector.fill(n)(uleb())
            out += BrTable(targets, uleb())
          case 0x0f => out += Return
          case 0x10 => out += Call(uleb())
          case 0x11 =>
            val ti = uleb()
            if (uleb() != 0) throw WasmTrap("call_indirect: only table 0")
            out += CallIndirect(ti)
          case 0x1a => out += Drop
          case 0x1b => out += Select
          case 0x20 => out += LocalGet(uleb())
          case 0x21 => out += LocalSet(uleb())
          case 0x22 => out += LocalTee(uleb())
          case 0x23 => out += GlobalGet(uleb())
          case 0x24 => out += GlobalSet(uleb())
          case 0x28 => val _ = uleb(); out += Load(4, signed = false, uleb())
          case 0x29 => val _ = uleb(); out += Load(8, signed = false, uleb(), wide = true)
          case 0x2c => val _ = uleb(); out += Load(1, signed = true, uleb())
          case 0x2d => val _ = uleb(); out += Load(1, signed = false, uleb())
          case 0x2e => val _ = uleb(); out += Load(2, signed = true, uleb())
          case 0x2f => val _ = uleb(); out += Load(2, signed = false, uleb())
          case 0x30 => val _ = uleb(); out += Load(1, signed = true, uleb(), wide = true)
          case 0x31 => val _ = uleb(); out += Load(1, signed = false, uleb(), wide = true)
          case 0x32 => val _ = uleb(); out += Load(2, signed = true, uleb(), wide = true)
          case 0x33 => val _ = uleb(); out += Load(2, signed = false, uleb(), wide = true)
          case 0x34 => val _ = uleb(); out += Load(4, signed = true, uleb(), wide = true)
          case 0x35 => val _ = uleb(); out += Load(4, signed = false, uleb(), wide = true)
          case 0x36 => val _ = uleb(); out += Store(4, uleb())
          case 0x37 => val _ = uleb(); out += Store(8, uleb())
          case 0x3a => val _ = uleb(); out += Store(1, uleb())
          case 0x3b => val _ = uleb(); out += Store(2, uleb())
          case 0x3c => val _ = uleb(); out += Store(1, uleb())
          case 0x3d => val _ = uleb(); out += Store(2, uleb())
          case 0x3e => val _ = uleb(); out += Store(4, uleb())
          case 0x3f => if (u8() != 0) throw WasmTrap("memory.size reserved byte"); out += MemorySize
          case 0x40 => if (u8() != 0) throw WasmTrap("memory.grow reserved byte"); out += MemoryGrow
          case 0x41 => out += I32Const(sleb())
          case 0x42 => out += I64Const(sleb64())
          case 0xc0 => out += SignExtend(1)
          case 0xc1 => out += SignExtend(2)
          case 0xfc => uleb() match {
            case 10 => // memory.copy dst-mem src-mem reserved bytes
              if (u8() != 0 || u8() != 0) throw WasmTrap("memory.copy reserved bytes")
              out += MemoryCopy
            case 11 =>
              if (u8() != 0) throw WasmTrap("memory.fill reserved byte")
              out += MemoryFill
            case sub => throw WasmTrap(f"unsupported 0xFC subopcode $sub")
          }
          case op if (op >= 0x45 && op <= 0x5a) || (op >= 0x67 && op <= 0x8a) ||
            op == 0xa7 || op == 0xac || op == 0xad ||
            (op >= 0xc2 && op <= 0xc4) => out += NumOp(op)
          case other => throw WasmTrap(f"unsupported opcode 0x$other%02x")
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }
}

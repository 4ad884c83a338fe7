package graft.functions.wasm

/** Sandboxed stack-machine interpreter for a decoded [[WasmModule]] —
  * the executable analog of the reference's wasmtime hosting
  * (/root/reference/crates/esvc-wasm/src/lib.rs:36-77). One instance =
  * one fresh store: its own linear memory (initialized from data
  * segments) and its own mutable globals, so every call-site gets the
  * same isolation the reference gets from a fresh
  * `wasmtime::Store` + `Instance` per event.
  *
  * Sandbox properties enforced here (not just assumed):
  *  - memory is bounds-checked on every access (WasmTrap on OOB); a
  *    load/store address is the unsigned i32 operand plus the unsigned
  *    static offset, summed in 64 bits (spec §4.4.7), so no address
  *    wraps back into bounds;
  *  - memory growth is capped at [[maxPages]];
  *  - execution is metered: more than [[fuel]] instructions traps
  *    (guaranteed termination — a spinning module cannot hang replay);
  *  - control nesting (calls plus the blocks/loops/ifs inside them) is
  *    capped at [[WasmModule.MaxDepth]], so runaway recursion traps
  *    instead of overflowing the host's JVM stack;
  *  - no imports exist, so a module cannot reach the host at all.
  *
  * Branch semantics per spec §4.4.8: a `br` to a block/if exits it
  * keeping the block's result values (stack truncated to entry
  * height + arity); a `br` to a loop re-enters the loop body.
  */
final class WasmInstance(mod: WasmModule,
                         maxPages: Int = 256, // 16 MiB
                         fuel: Long = 200_000_000L) {
  // Value model: every stack/local/global slot is a Long. i32 values
  // are kept SIGN-EXTENDED (canonical), so i32 ops can work on .toInt
  // and push .toLong without extra masking; i64 ops use the full
  // width. rustc emits i64 loads/stores for merged memory traffic
  // even in i32-only programs, which is why the interpreter carries
  // both (the r8 Int-only model trapped on real compiler output).
  import Instr._

  private val PageSize = 65536
  private var mem = new Array[Byte](math.min(mod.memMinPages, maxPages) * PageSize)
  private val globals: Array[Long] = mod.globals.map(_.init.toLong).toArray
  private var remaining = fuel
  private var depth = 0 // control frames open in the current invoke

  mod.data.foreach { seg =>
    if (seg.offset < 0 || seg.offset + seg.bytes.length > mem.length)
      throw WasmTrap("data segment out of bounds")
    System.arraycopy(seg.bytes, 0, mem, seg.offset, seg.bytes.length)
  }

  def memorySize: Int = mem.length

  def readBytes(off: Int, len: Int): Array[Byte] = {
    if (off < 0 || len < 0 || off.toLong + len > mem.length)
      throw WasmTrap(s"memory read out of bounds: $off+$len/${mem.length}")
    java.util.Arrays.copyOfRange(mem, off, off + len)
  }

  def writeBytes(off: Int, bytes: Array[Byte]): Unit = {
    if (off < 0 || off.toLong + bytes.length > mem.length)
      throw WasmTrap(s"memory write out of bounds: $off+${bytes.length}/${mem.length}")
    System.arraycopy(bytes, 0, mem, off, bytes.length)
  }

  /** Call an exported function by name (i32 surface — the host ABI). */
  def invoke(name: String, args: Int*): Int = {
    val idx = mod.exports.get(name) match {
      case Some(("func", i)) => i
      case _ => throw WasmTrap(s"unable to get export `$name`")
    }
    depth = 0 // a trapped earlier invoke may have left frames counted
    callFunction(idx, args.map(_.toLong).toArray).toInt
  }

  private def callFunction(idx: Int, args: Array[Long]): Long = {
    val f = mod.funcs.lift(idx).getOrElse(throw WasmTrap(s"bad function index $idx"))
    if (args.length != f.tpe.params) throw WasmTrap(s"arity mismatch calling $idx")
    val locals = new Array[Long](f.tpe.params + f.locals)
    System.arraycopy(args, 0, locals, 0, args.length)
    val stack = new ValStack
    exec(f.body, locals, stack)
    if (f.tpe.results == 1) stack.pop() else 0L
  }

  /** Run a body one control frame deeper; returns branch depth
    * (-1 = fell through / returned).
    */
  private def exec(body: Vector[Instr], locals: Array[Long], stack: ValStack): Int = {
    if (depth >= WasmModule.MaxDepth) throw WasmTrap("call stack exhausted (runaway recursion)")
    depth += 1
    val br = run(body, locals, stack)
    depth -= 1
    br
  }

  /** Effective address of a `width`-byte access: unsigned i32 base plus
    * unsigned static offset, in 64 bits; traps unless the whole access
    * lies inside memory.
    */
  private def effectiveAddr(base: Long, offset: Int, width: Int, what: String): Int = {
    val ea = (base & 0xffffffffL) + (offset & 0xffffffffL)
    if (ea + width > mem.length) throw WasmTrap(s"$what out of bounds: $ea+$width/${mem.length}")
    ea.toInt
  }

  private def run(body: Vector[Instr], locals: Array[Long], stack: ValStack): Int = {
    var i = 0
    while (i < body.length) {
      remaining -= 1
      if (remaining <= 0) throw WasmTrap("out of fuel (runaway module)")
      body(i) match {
        case Unreachable => throw WasmTrap("unreachable executed")
        case Nop => ()
        case Block(results, inner) =>
          val h = stack.size
          val br = exec(inner, locals, stack)
          if (br == 0) stack.truncateKeepTop(h, results)
          else if (br > 0) return br - 1
        case Loop(_, inner) =>
          val h = stack.size
          var again = true
          while (again) {
            val br = exec(inner, locals, stack)
            if (br == 0) { stack.truncate(h); remaining -= 1 } // br 0 = continue
            else if (br > 0) return br - 1
            else again = false
          }
        case If(results, thn, els) =>
          val h = stack.size - 1
          val cond = stack.pop()
          val br = exec(if (cond != 0) thn else els, locals, stack)
          if (br == 0) stack.truncateKeepTop(h, results)
          else if (br > 0) return br - 1
        case Br(d) => return d
        case BrIf(d) => if (stack.pop() != 0) return d
        case BrTable(targets, default) =>
          val sel = stack.pop().toInt
          return if (sel >= 0 && sel < targets.length) targets(sel) else default
        case Return => return Int.MaxValue // unwinds every frame below
        case Call(fidx) =>
          val callee = mod.funcs.lift(fidx).getOrElse(throw WasmTrap(s"bad function index $fidx"))
          val args = new Array[Long](callee.tpe.params)
          var k = callee.tpe.params - 1
          while (k >= 0) { args(k) = stack.pop(); k -= 1 }
          val r = callFunction(fidx, args)
          if (callee.tpe.results == 1) stack.push(r)
        case CallIndirect(ti) =>
          val elem = stack.pop().toInt
          if (elem < 0 || elem >= mod.table.length)
            throw WasmTrap(s"call_indirect: table index $elem out of bounds")
          val fidx = mod.table(elem)
          if (fidx < 0) throw WasmTrap(s"call_indirect: null table entry $elem")
          val callee = mod.funcs.lift(fidx).getOrElse(throw WasmTrap(s"bad function index $fidx"))
          val expected = mod.types.lift(ti).getOrElse(throw WasmTrap(s"bad type index $ti"))
          if (callee.tpe != expected)
            throw WasmTrap(s"call_indirect: type mismatch at table[$elem]")
          val args = new Array[Long](callee.tpe.params)
          var k = callee.tpe.params - 1
          while (k >= 0) { args(k) = stack.pop(); k -= 1 }
          val r = callFunction(fidx, args)
          if (callee.tpe.results == 1) stack.push(r)
        case Drop => stack.pop()
        case Select =>
          val c = stack.pop(); val b = stack.pop(); val a = stack.pop()
          stack.push(if (c != 0) a else b)
        case LocalGet(n) => stack.push(locals(n))
        case LocalSet(n) => locals(n) = stack.pop()
        case LocalTee(n) => locals(n) = stack.peek
        case GlobalGet(n) => stack.push(globals(n))
        case GlobalSet(n) =>
          if (!mod.globals(n).mutable) throw WasmTrap(s"global $n is immutable")
          globals(n) = stack.pop()
        case Load(width, signed, offset, wide) =>
          val addr = effectiveAddr(stack.pop(), offset, width, "load")
          stack.push(width match {
            case 1 => if (signed) mem(addr).toLong else (mem(addr) & 0xff).toLong
            case 2 =>
              val raw = (mem(addr) & 0xff) | ((mem(addr + 1) & 0xff) << 8)
              if (signed) ((raw << 16) >> 16).toLong else raw.toLong
            case 4 =>
              val raw = (mem(addr) & 0xff) | ((mem(addr + 1) & 0xff) << 8) |
                ((mem(addr + 2) & 0xff) << 16) | ((mem(addr + 3) & 0xff) << 24)
              if (wide && !signed) raw & 0xffffffffL else raw.toLong
            case 8 =>
              var v = 0L; var k = 7
              while (k >= 0) { v = (v << 8) | (mem(addr + k) & 0xffL); k -= 1 }
              v
          })
        case Store(width, offset) =>
          val v = stack.pop()
          val addr = effectiveAddr(stack.pop(), offset, width, "store")
          var k = 0
          while (k < width) { mem(addr + k) = (v >>> (8 * k)).toByte; k += 1 }
        case MemoryCopy =>
          val n = stack.pop().toInt; val src = stack.pop().toInt; val dst = stack.pop().toInt
          if (n < 0 || src < 0 || dst < 0 ||
            src.toLong + n > mem.length || dst.toLong + n > mem.length)
            throw WasmTrap(s"memory.copy out of bounds: dst=$dst src=$src n=$n")
          System.arraycopy(mem, src, mem, dst, n) // overlap-safe, like the spec
        case MemoryFill =>
          val n = stack.pop().toInt; val v = stack.pop().toInt; val dst = stack.pop().toInt
          if (n < 0 || dst < 0 || dst.toLong + n > mem.length)
            throw WasmTrap(s"memory.fill out of bounds: dst=$dst n=$n")
          java.util.Arrays.fill(mem, dst, dst + n, v.toByte)
        case SignExtend(width) =>
          val v = stack.pop().toInt
          stack.push(if (width == 1) v.toByte.toLong else v.toShort.toLong)
        case MemorySize => stack.push((mem.length / PageSize).toLong)
        case MemoryGrow =>
          val delta = stack.pop().toInt
          val cur = mem.length / PageSize
          if (delta < 0 || cur + delta > maxPages) stack.push(-1L)
          else {
            mem = java.util.Arrays.copyOf(mem, (cur + delta) * PageSize)
            stack.push(cur.toLong)
          }
        case I32Const(v) => stack.push(v.toLong)
        case I64Const(v) => stack.push(v)
        case NumOp(op) => numeric(op, stack)
      }
      i += 1
    }
    -1
  }

  /** i32/i64 numeric, comparison and int-conversion ops, spec §4.3.2
    * (unsigned via JDK *Unsigned intrinsics). i32 results are pushed
    * sign-extended (the canonical representation).
    */
  private def numeric(op: Int, stack: ValStack): Unit = {
    def bool(b: Boolean): Long = if (b) 1L else 0L
    op match { // unary + conversion ops first
      case 0x45 => stack.push(bool(stack.pop().toInt == 0)); return // i32.eqz
      case 0x50 => stack.push(bool(stack.pop() == 0L)); return // i64.eqz
      case 0x67 => stack.push(Integer.numberOfLeadingZeros(stack.pop().toInt).toLong); return
      case 0x68 => stack.push(Integer.numberOfTrailingZeros(stack.pop().toInt).toLong); return
      case 0x69 => stack.push(Integer.bitCount(stack.pop().toInt).toLong); return
      case 0x79 => stack.push(java.lang.Long.numberOfLeadingZeros(stack.pop()).toLong); return
      case 0x7a => stack.push(java.lang.Long.numberOfTrailingZeros(stack.pop()).toLong); return
      case 0x7b => stack.push(java.lang.Long.bitCount(stack.pop()).toLong); return
      case 0xa7 => stack.push(stack.pop().toInt.toLong); return // i32.wrap_i64
      case 0xac => stack.push(stack.pop().toInt.toLong); return // i64.extend_i32_s
      case 0xad => stack.push(stack.pop() & 0xffffffffL); return // i64.extend_i32_u
      case 0xc2 => stack.push(stack.pop().toByte.toLong); return // i64.extend8_s
      case 0xc3 => stack.push(stack.pop().toShort.toLong); return // i64.extend16_s
      case 0xc4 => stack.push(stack.pop().toInt.toLong); return // i64.extend32_s
      case _ => ()
    }
    if (op >= 0x51 && op <= 0x5a || op >= 0x7c && op <= 0x8a) { // i64 binary
      val b = stack.pop(); val a = stack.pop()
      val r: Long = op match {
        case 0x51 => bool(a == b) // eq
        case 0x52 => bool(a != b) // ne
        case 0x53 => bool(a < b) // lt_s
        case 0x54 => bool(java.lang.Long.compareUnsigned(a, b) < 0) // lt_u
        case 0x55 => bool(a > b) // gt_s
        case 0x56 => bool(java.lang.Long.compareUnsigned(a, b) > 0) // gt_u
        case 0x57 => bool(a <= b) // le_s
        case 0x58 => bool(java.lang.Long.compareUnsigned(a, b) <= 0) // le_u
        case 0x59 => bool(a >= b) // ge_s
        case 0x5a => bool(java.lang.Long.compareUnsigned(a, b) >= 0) // ge_u
        case 0x7c => a + b
        case 0x7d => a - b
        case 0x7e => a * b
        case 0x7f => if (b == 0) throw WasmTrap("integer divide by zero") else a / b
        case 0x80 => if (b == 0) throw WasmTrap("integer divide by zero") else java.lang.Long.divideUnsigned(a, b)
        case 0x81 => if (b == 0) throw WasmTrap("integer divide by zero") else a % b
        case 0x82 => if (b == 0) throw WasmTrap("integer divide by zero") else java.lang.Long.remainderUnsigned(a, b)
        case 0x83 => a & b
        case 0x84 => a | b
        case 0x85 => a ^ b
        case 0x86 => a << (b & 63)
        case 0x87 => a >> (b & 63) // shr_s
        case 0x88 => a >>> (b & 63) // shr_u
        case 0x89 => java.lang.Long.rotateLeft(a, (b & 63).toInt)
        case 0x8a => java.lang.Long.rotateRight(a, (b & 63).toInt)
        case other => throw WasmTrap(f"unsupported numeric opcode 0x$other%02x")
      }
      stack.push(r)
      return
    }
    val b = stack.pop().toInt; val a = stack.pop().toInt
    def booli(v: Boolean): Int = if (v) 1 else 0
    val r: Int = op match {
      case 0x46 => booli(a == b) // eq
      case 0x47 => booli(a != b) // ne
      case 0x48 => booli(a < b) // lt_s
      case 0x49 => booli(Integer.compareUnsigned(a, b) < 0) // lt_u
      case 0x4a => booli(a > b) // gt_s
      case 0x4b => booli(Integer.compareUnsigned(a, b) > 0) // gt_u
      case 0x4c => booli(a <= b) // le_s
      case 0x4d => booli(Integer.compareUnsigned(a, b) <= 0) // le_u
      case 0x4e => booli(a >= b) // ge_s
      case 0x4f => booli(Integer.compareUnsigned(a, b) >= 0) // ge_u
      case 0x6a => a + b
      case 0x6b => a - b
      case 0x6c => a * b
      case 0x6d => if (b == 0) throw WasmTrap("integer divide by zero") else a / b // div_s
      case 0x6e => if (b == 0) throw WasmTrap("integer divide by zero") else Integer.divideUnsigned(a, b)
      case 0x6f => if (b == 0) throw WasmTrap("integer divide by zero") else a % b // rem_s
      case 0x70 => if (b == 0) throw WasmTrap("integer divide by zero") else Integer.remainderUnsigned(a, b)
      case 0x71 => a & b
      case 0x72 => a | b
      case 0x73 => a ^ b
      case 0x74 => a << (b & 31)
      case 0x75 => a >> (b & 31) // shr_s
      case 0x76 => a >>> (b & 31) // shr_u
      case 0x77 => Integer.rotateLeft(a, b & 31)
      case 0x78 => Integer.rotateRight(a, b & 31)
      case other => throw WasmTrap(f"unsupported numeric opcode 0x$other%02x")
    }
    stack.push(r.toLong)
  }

  /** Minimal value stack (unboxed Longs in the interpreter hot loop). */
  private final class ValStack {
    private var a = new Array[Long](64)
    private var n = 0
    def size: Int = n
    def push(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = v; n += 1
    }
    def pop(): Long = {
      if (n == 0) throw WasmTrap("value stack underflow")
      n -= 1; a(n)
    }
    def peek: Long = {
      if (n == 0) throw WasmTrap("value stack underflow")
      a(n - 1)
    }
    def truncate(h: Int): Unit = { if (h < n) n = h }
    /** Exit a block: keep the top `keep` values, drop the rest down to
      * entry height `h` (spec label-exit semantics).
      */
    def truncateKeepTop(h: Int, keep: Int): Unit = {
      if (n > h + keep) {
        var k = 0
        while (k < keep) { a(h + k) = a(n - keep + k); k += 1 }
        n = h + keep
      }
    }
  }
}

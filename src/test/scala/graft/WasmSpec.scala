package graft

import graft.core._
import graft.functions.wasm._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.immutable.{ArraySeq, SortedSet}
import scala.collection.mutable.ArrayBuffer

/** The sandboxed WASM UDF engine: decoder + interpreter + host ABI.
  * Mirrors the reference's wasmtime hosting path
  * (esvc-wasm/src/lib.rs:36-77) including the wasm-bindgen export
  * names and the retptr result protocol; the modules under test are
  * REAL binaries (assembled in-process, decoded through the same
  * binary-format path any external .wasm would take).
  */
class WasmSpec extends AnyFunSuite {
  private def bytes(s: String): ArraySeq[Byte] =
    ArraySeq.unsafeWrapArray(s.getBytes("UTF-8"))

  test("decoder round-trips an assembled module (sections, types, exports)") {
    val mod = WasmModule.decode(WasmModules.xorModule)
    assert(mod.funcs.length == 3)
    assert(mod.exports.keySet ==
      Set("__wbindgen_malloc", "__wbindgen_add_to_stack_pointer", "transform", "memory"))
    assert(mod.memMinPages == 1)
    assert(mod.globals.length == 2 && mod.globals.forall(_.mutable))
  }

  test("interpreter: arithmetic, branches, calls, select") {
    import WasmAssembler._
    // gcd(a, b), a,b > 0: subtract-while-unequal — loops, compares,
    // if/else, locals
    val gcd = new FuncBuilder(params = 2, results = 1, locals = 0)
    gcd
      .block
        .loop
          .localGet(0).localGet(1).eq.brIf(1) // a == b -> done
          .localGet(0).localGet(1).geU
          .ifVoid
            .localGet(0).localGet(1).sub.localSet(0)
          .els
            .localGet(1).localGet(0).sub.localSet(1)
          .end
          .br(0)
        .end
      .end
      .localGet(0)
    val wasm = module(Seq(gcd), memPages = 1, globals = Nil, exports = Map("gcd" -> 0))
    val inst = new WasmInstance(WasmModule.decode(wasm))
    assert(inst.invoke("gcd", 48, 36) == 12)
    assert(inst.invoke("gcd", 17, 5) == 1)
    assert(inst.invoke("gcd", 7, 7) == 7)
  }

  test("interpreter: memory grow, loads/stores, bounds traps, fuel cap") {
    import WasmAssembler._
    // touch(addr): grow memory until addr fits, store then load a byte
    val touch = new FuncBuilder(params = 1, results = 1, locals = 0)
    touch
      .block
        .loop
          .memorySize.i32Const(16).shl
          .localGet(0).i32Const(1).add.geU.brIf(1)
          .i32Const(1).memoryGrow.drop
          .br(0)
        .end
      .end
      .localGet(0).i32Const(0x5a).store8()
      .localGet(0).load8u()
    val spin = new FuncBuilder(params = 0, results = 0, locals = 0)
    spin.loop.br(0).end
    val wasm = module(Seq(touch, spin), memPages = 1, globals = Nil,
      exports = Map("touch" -> 0, "spin" -> 1))
    val mod = WasmModule.decode(wasm)

    val inst = new WasmInstance(mod, maxPages = 4)
    assert(inst.invoke("touch", 3 * 65536 + 5) == 0x5a) // grew to 4 pages
    assert(inst.memorySize == 4 * 65536)
    // beyond maxPages: grow returns -1 forever -> loop burns fuel -> trap
    val cramped = new WasmInstance(mod, maxPages = 2, fuel = 100_000)
    val t1 = intercept[WasmTrap](cramped.invoke("touch", 3 * 65536))
    assert(t1.msg.contains("fuel"))
    // a spinning module cannot hang the host
    val t2 = intercept[WasmTrap](new WasmInstance(mod, fuel = 10_000).invoke("spin"))
    assert(t2.msg.contains("fuel"))
    // raw OOB access traps
    val t3 = intercept[WasmTrap](new WasmInstance(mod, maxPages = 1).invoke("touch", 2 * 65536))
  }

  test("interpreter: recursive calls (factorial via self-call)") {
    import WasmAssembler._
    // fact(n) = n == 0 ? 1 : n * fact(n - 1)
    val fact = new FuncBuilder(params = 1, results = 1, locals = 0)
    fact
      .localGet(0).eqz
      .ifI32
        .i32Const(1)
      .els
        .localGet(0)
        .localGet(0).i32Const(1).sub.call(0)
        .mul
      .end
    val wasm = module(Seq(fact), memPages = 1, globals = Nil, exports = Map("fact" -> 0))
    val inst = new WasmInstance(WasmModule.decode(wasm))
    assert(inst.invoke("fact", 0) == 1)
    assert(inst.invoke("fact", 5) == 120)
    assert(inst.invoke("fact", 12) == 479001600)
  }

  test("interpreter: load/store address is unsigned i32 + unsigned offset, never wrapped") {
    import WasmAssembler._
    val ld8 = new FuncBuilder(params = 1, results = 1, locals = 0)
    ld8.localGet(0).load8u(2) // i32.load8_u offset=2
    val st8 = new FuncBuilder(params = 1, results = 0, locals = 0)
    st8.localGet(0).i32Const(0x77).store8(2) // i32.store8 offset=2
    val ld32 = new FuncBuilder(params = 1, results = 1, locals = 0)
    ld32.localGet(0).load() // i32.load offset=0
    val ldHigh = new FuncBuilder(params = 1, results = 1, locals = 0)
    ldHigh.localGet(0).load8u(-16) // offset 0xFFFFFFF0
    val wasm = module(Seq(ld8, st8, ld32, ldHigh), memPages = 1, globals = Nil,
      exports = Map("ld8" -> 0, "st8" -> 1, "ld32" -> 2, "ldHigh" -> 3),
      data = Seq(0 -> Array[Byte](10, 11, 12, 13)))
    val inst = new WasmInstance(WasmModule.decode(wasm))
    assert(inst.invoke("ld8", 1) == 13) // in bounds: 1 + 2 = 3
    // 0xFFFFFFFF + 2 is past 4 GiB, not address 1
    assert(intercept[WasmTrap](inst.invoke("ld8", 0xFFFFFFFF)).msg.contains("out of bounds"))
    assert(intercept[WasmTrap](inst.invoke("st8", 0xFFFFFFFF)).msg.contains("out of bounds"))
    assert(inst.readBytes(0, 4).toSeq == Seq[Byte](10, 11, 12, 13)) // nothing written
    // 0x7FFFFFFE + 4 overflows Int: still a trap, not an index exception
    assert(intercept[WasmTrap](inst.invoke("ld32", 0x7FFFFFFE)).msg.contains("out of bounds"))
    // 0x20 + 0xFFFFFFF0 is 0x1_0000_0010, not 0x10
    assert(intercept[WasmTrap](inst.invoke("ldHigh", 0x20)).msg.contains("out of bounds"))
  }

  test("interpreter: runaway recursion and over-deep block nesting trap, not overflow the stack") {
    import WasmAssembler._
    // what `f` throws on a thread with the JVM's default 1 MiB stack
    def thrownOnDefaultStack(f: => Any): Throwable = {
      var thrown: Throwable = null
      val t = new Thread(null, () => try f catch { case e: Throwable => thrown = e }, "wasm-1MiB", 1L << 20)
      t.start(); t.join()
      thrown
    }
    // forever(n) = forever(n + 1): no base case
    val forever = new FuncBuilder(params = 1, results = 1, locals = 0)
    forever.localGet(0).i32Const(1).add.call(0)
    val wasm = module(Seq(forever), memPages = 1, globals = Nil, exports = Map("forever" -> 0))
    val inst = new WasmInstance(WasmModule.decode(wasm))
    assert(thrownOnDefaultStack(inst.invoke("forever", 0)) == WasmTrap("call stack exhausted (runaway recursion)"))
    // 20,000 nested blocks: refused at decode
    val deep = new FuncBuilder(params = 0, results = 0, locals = 0)
    (0 until 20000).foreach(_ => deep.block)
    (0 until 20000).foreach(_ => deep.end)
    val deepWasm = module(Seq(deep), memPages = 1, globals = Nil, exports = Map("deep" -> 0))
    assert(thrownOnDefaultStack(WasmModule.decode(deepWasm)) match {
      case WasmTrap(msg) => msg.contains("nested deeper")
      case _ => false
    })
    // 200 nested blocks (far beyond compiler output) still decode and run
    val ok = new FuncBuilder(params = 0, results = 0, locals = 0)
    (0 until 200).foreach(_ => ok.block)
    (0 until 200).foreach(_ => ok.end)
    val okWasm = module(Seq(ok), memPages = 1, globals = Nil, exports = Map("ok" -> 0))
    assert(new WasmInstance(WasmModule.decode(okWasm)).invoke("ok") == 0)
    // through the host: a wbindgen-ABI module whose transform calls
    // itself with its own arguments surfaces as EngineException
    val malloc = new FuncBuilder(params = 1, results = 1, locals = 0)
    malloc.i32Const(2048)
    val stackPtr = new FuncBuilder(params = 1, results = 1, locals = 0)
    stackPtr.i32Const(1024)
    val transform = new FuncBuilder(params = 5, results = 0, locals = 0)
    (0 until 5).foreach(transform.localGet)
    transform.call(2)
    val abiWasm = module(Seq(malloc, stackPtr, transform), memPages = 1, globals = Nil,
      exports = Map("__wbindgen_malloc" -> 0, "__wbindgen_add_to_stack_pointer" -> 1, "transform" -> 2))
    val en = new WasmEngine
    en.addCommands(Seq(abiWasm))
    assert(thrownOnDefaultStack(en.runEvent(0, ArraySeq.empty[Byte], bytes("x"))) match {
      case e: EngineException => e.getMessage.contains("call stack exhausted")
      case _ => false
    })
  }

  test("imports are rejected: the sandbox is closed") {
    // minimal module with an import section: magic+version, then
    // section 2 declaring one function import "e"."f"
    val withImport = Array[Byte](0x00, 0x61, 0x73, 0x6d, 0x01, 0x00, 0x00, 0x00,
      0x02, 0x07, 0x01, 0x01, 'e', 0x01, 'f', 0x00, 0x00)
    val t = intercept[WasmTrap](WasmModule.decode(withImport))
    assert(t.msg.contains("imports"))
  }

  test("wasm engine: xor module runs through the full wbindgen ABI") {
    val en = new WasmEngine
    val (first, count) = en.addCommands(Seq(WasmModules.xorModule))
    assert((first, count) == (0, 1))
    val key = ArraySeq[Byte](0x2a)
    val out = en.runEvent(0, key, bytes("hello"))
    assert(out.toArray.toSeq == "hello".getBytes("UTF-8").toSeq.map(b => (b ^ 0x2a).toByte))
    // xor is self-inverse: applying twice restores the input
    assert(en.runEvent(0, key, out) == bytes("hello"))
    // empty arg = key 0 = identity
    assert(en.runEvent(0, ArraySeq.empty[Byte], bytes("abc")) == bytes("abc"))
    intercept[EngineException](en.runEvent(5, key, bytes("x")))
  }

  test("wasm engine: payload larger than one page forces in-module memory.grow") {
    val en = new WasmEngine
    en.addCommands(Seq(WasmModules.xorModule))
    val big = ArraySeq.unsafeWrapArray(Array.tabulate[Byte](200 * 1024)(i => (i % 251).toByte))
    val out = en.runEvent(0, ArraySeq[Byte](0x11), big)
    assert(out.length == big.length)
    assert(out(12345) == (big(12345) ^ 0x11).toByte)
  }

  test("wasm engine: malformed arg traps in-module and surfaces as EngineException") {
    val en = new WasmEngine
    en.addCommands(Seq(WasmModules.byteSearModule))
    val e = intercept[EngineException](en.runEvent(0, ArraySeq[Byte](1), bytes("x")))
    assert(e.getMessage.contains("wasm trap"))
  }

  test("fuzz: interpreter matches the scala model on random payload/arg/command chains") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val en = new WasmEngine
    en.addCommands(Seq(WasmModules.byteSearModule, WasmModules.xorModule))
    def model(cmd: Int, arg: Array[Byte], dat: Array[Byte]): Array[Byte] = cmd match {
      case 0 => dat.map(b => if (b == arg(0)) arg(1) else b)
      case 1 => val k = if (arg.isEmpty) 0 else arg(0); dat.map(b => (b ^ k).toByte)
    }
    val caseGen = for {
      n <- Gen.chooseNum(0, 300)
      dat <- Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte))
      steps <- Gen.chooseNum(1, 6)
      cmds <- Gen.listOfN(steps, for {
        cmd <- Gen.oneOf(0, 1)
        a <- Gen.chooseNum(-128, 127).map(_.toByte)
        b <- Gen.chooseNum(-128, 127).map(_.toByte)
      } yield (cmd, Array(a, b)))
    } yield (dat.toArray, cmds)
    var seed = Seed(20260812L)
    (1 to 150).foreach { i =>
      val (dat0, cmds) = caseGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      var expected = dat0
      var got: ArraySeq[Byte] = ArraySeq.unsafeWrapArray(dat0)
      cmds.foreach { case (cmd, arg) =>
        expected = model(cmd, arg, expected)
        got = en.runEvent(cmd, ArraySeq.unsafeWrapArray(arg), got)
      }
      assert(got.toArray.toSeq == expected.toSeq, s"case $i diverged")
    }
  }

  test("fuzz: random expression trees (typed ifs, select, all i32 ops) match a direct evaluator") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import WasmAssembler._
    sealed trait E
    case class C(v: Int) extends E
    case class P(i: Int) extends E
    case class B(op: Int, a: E, b: E) extends E // numeric + comparisons
    case class If(c: E, t: E, e: E) extends E
    case class Sel(c: E, a: E, b: E) extends E

    val ops = Seq(0x6a, 0x6b, 0x6c, 0x71, 0x72, 0x73, 0x74, 0x76, // add..shr_u
      0x46, 0x47, 0x49, 0x4f) // eq, ne, lt_u, ge_u
    def gen(depth: Int): Gen[E] =
      if (depth == 0) Gen.oneOf(Gen.chooseNum(-100, 100).map(C), Gen.oneOf(0, 1).map(P))
      else Gen.frequency(
        2 -> Gen.chooseNum(-100, 100).map(C),
        2 -> Gen.oneOf(0, 1).map(P),
        5 -> (for { op <- Gen.oneOf(ops); a <- gen(depth - 1); b <- gen(depth - 1) } yield B(op, a, b)),
        2 -> (for { c <- gen(depth - 1); t <- gen(depth - 1); e <- gen(depth - 1) } yield If(c, t, e)),
        1 -> (for { c <- gen(depth - 1); a <- gen(depth - 1); b <- gen(depth - 1) } yield Sel(c, a, b)))

    def eval(e: E, p0: Int, p1: Int): Int = e match {
      case C(v) => v
      case P(i) => if (i == 0) p0 else p1
      case B(op, a, b) =>
        val x = eval(a, p0, p1); val y = eval(b, p0, p1)
        op match {
          case 0x6a => x + y; case 0x6b => x - y; case 0x6c => x * y
          case 0x71 => x & y; case 0x72 => x | y; case 0x73 => x ^ y
          case 0x74 => x << (y & 31); case 0x76 => x >>> (y & 31)
          case 0x46 => if (x == y) 1 else 0
          case 0x47 => if (x != y) 1 else 0
          case 0x49 => if (Integer.compareUnsigned(x, y) < 0) 1 else 0
          case 0x4f => if (Integer.compareUnsigned(x, y) >= 0) 1 else 0
        }
      case If(c, t, e2) => if (eval(c, p0, p1) != 0) eval(t, p0, p1) else eval(e2, p0, p1)
      case Sel(c, a, b) => if (eval(c, p0, p1) != 0) eval(a, p0, p1) else eval(b, p0, p1)
    }

    def emit(f: FuncBuilder, e: E): Unit = e match {
      case C(v) => f.i32Const(v)
      case P(i) => f.localGet(i)
      case B(op, a, b) =>
        emit(f, a); emit(f, b)
        op match {
          case 0x6a => f.add; case 0x6b => f.sub; case 0x6c => f.mul
          case 0x71 => f.and; case 0x72 => f.or; case 0x73 => f.xor
          case 0x74 => f.shl; case 0x76 => f.shrU
          case 0x46 => f.eq; case 0x47 => f.ne; case 0x49 => f.ltU; case 0x4f => f.geU
        }
      case If(c, t, e2) =>
        emit(f, c); f.ifI32; emit(f, t); f.els; emit(f, e2); f.end
      case Sel(c, a, b) =>
        emit(f, a); emit(f, b); emit(f, c); f.select
    }

    var seed = Seed(77L)
    (1 to 200).foreach { i =>
      val tree = gen(4).pureApply(Gen.Parameters.default, seed); seed = seed.next
      val args = Gen.zip(Gen.chooseNum(Int.MinValue, Int.MaxValue),
        Gen.chooseNum(Int.MinValue, Int.MaxValue)).pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      val fb = new FuncBuilder(params = 2, results = 1, locals = 0)
      emit(fb, tree)
      val wasm = module(Seq(fb), memPages = 1, globals = Nil, exports = Map("f" -> 0))
      val got = new WasmInstance(WasmModule.decode(wasm)).invoke("f", args._1, args._2)
      val expected = eval(tree, args._1, args._2)
      assert(got == expected, s"case $i: got $got expected $expected tree $tree")
    }
  }

  // ---- external fixtures: binaries NOT produced by WasmAssembler ----
  // Generated by tools/make_wasm_fixture.py and checked in. They carry
  // the opcode surface rustc/wasm-bindgen output uses and the assembler
  // cannot emit: funcref table + call_indirect dispatch, br_table mode
  // switch, bulk memory.copy/memory.fill, 16-bit loads/stores, and
  // sign-extension — plus the full wbindgen export set including
  // __wbindgen_free (esvc-wasm/src/lib.rs:47 keeps it commented-out on
  // the host side, but every wbindgen module exports it).

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/wasm/$name")
    assert(in != null, s"missing resource $name")
    try in.readAllBytes() finally in.close()
  }

  /** Scala model of the fixture's transform. */
  private def searModel(arg: Array[Byte], dat: Array[Byte]): Array[Byte] = {
    def u16(o: Int) = (arg(o) & 0xff) | ((arg(o + 1) & 0xff) << 8)
    def matches(i: Int, s: Array[Byte]) =
      i + s.length <= dat.length && s.indices.forall(j => dat(i + j) == s(j))
    arg(0) match {
      case 0 => dat.clone()
      case 1 =>
        val s = arg.slice(5, 5 + u16(1)); val r = arg.slice(5 + u16(1), 5 + u16(1) + u16(3))
        val out = Array.newBuilder[Byte]; var i = 0
        while (i < dat.length)
          if (matches(i, s)) { out ++= r; i += s.length } else { out += dat(i); i += 1 }
        out.result()
      case 2 =>
        val s = arg.slice(3, 3 + u16(1))
        val out = dat.clone(); var i = 0
        while (i < dat.length)
          if (matches(i, s)) { (0 until s.length).foreach(j => out(i + j) = '*'); i += s.length }
          else i += 1
        out
      case 3 => dat.map(b => (b + arg(1)).toByte)
    }
  }

  private def searArg(mode: Int, s: String = "", r: String = ""): ArraySeq[Byte] = {
    val sb = s.getBytes("UTF-8"); val rb = r.getBytes("UTF-8")
    val out = ArrayBuffer[Byte](mode.toByte)
    if (mode == 1) {
      out += (sb.length & 0xff).toByte += ((sb.length >> 8) & 0xff).toByte
      out += (rb.length & 0xff).toByte += ((rb.length >> 8) & 0xff).toByte
      out ++= sb; out ++= rb
    } else if (mode == 2) {
      out += (sb.length & 0xff).toByte += ((sb.length >> 8) & 0xff).toByte
      out ++= sb
    }
    ArraySeq.unsafeWrapArray(out.toArray)
  }

  test("external fixture decodes: table, element segments, wbindgen export set") {
    val mod = WasmModule.decode(fixture("sear_bindgen.wasm"))
    assert(mod.exports.keySet == Set("memory", "__wbindgen_malloc",
      "__wbindgen_add_to_stack_pointer", "__wbindgen_free", "transform"))
    assert(mod.table == Vector(-1, 3)) // slot 0 null, like rustc's table
    assert(mod.memMinPages == 2 && mod.globals.length == 2)
  }

  test("external fixture: every transform mode matches the scala model") {
    val en = new WasmEngine
    en.addCommands(Seq(fixture("sear_bindgen.wasm")))
    val docs = Seq("", "a", "abcabc", "the cat sat on the mat, the end",
      "aaaa", "xyxyxy", new String(Array.fill(300)('z')))
    val args = Seq(
      searArg(0),
      searArg(1, "a", "x"), searArg(1, "ab", "QQQ"), searArg(1, "the", ""),
      searArg(1, "aa", "b"), searArg(1, "zzz", "!"), searArg(1, "nope", "?"),
      searArg(2, "cat"), searArg(2, "a"),
      ArraySeq[Byte](3, 1), ArraySeq[Byte](3, -1), ArraySeq[Byte](3, -128))
    for (d <- docs; a <- args) {
      val got = en.runEvent(0, a, bytes(d))
      val expected = searModel(a.toArray, d.getBytes("UTF-8"))
      assert(got.toArray.toSeq == expected.toSeq, s"doc '$d' arg ${a.toList}")
    }
  }

  test("external fixture: large payload grows memory; bad mode and empty arg trap") {
    val en = new WasmEngine
    en.addCommands(Seq(fixture("sear_bindgen.wasm")))
    val big = "ab" * 50000 // 100 KB > the module's 2 initial pages
    val out = en.runEvent(0, searArg(1, "ab", "xyz"), bytes(big))
    assert(out.length == 150000 && new String(out.toArray, "UTF-8").startsWith("xyzxyz"))
    val t1 = intercept[EngineException](en.runEvent(0, ArraySeq[Byte](9), bytes("x")))
    assert(t1.getMessage.contains("wasm trap")) // br_table default -> unreachable
    intercept[EngineException](en.runEvent(0, ArraySeq.empty[Byte], bytes("x")))
    intercept[EngineException](en.runEvent(0, searArg(1, "", "r"), bytes("x")))
  }

  test("probe fixture: sign-extension, 16-bit memory ops, br_table, call_indirect") {
    val inst = new WasmInstance(WasmModule.decode(fixture("probe.wasm")))
    assert(inst.invoke("sext8", 0x80) == -128)
    assert(inst.invoke("sext8", 0x17f) == 127)
    assert(inst.invoke("sext16", 0x8000) == -32768)
    assert(inst.invoke("sext16", 0x17fff) == 32767)
    assert(inst.invoke("ld16u", 16) == 0x1234) // from the data segment
    assert(inst.invoke("ld16s", 18) == -2) // FF FE little-endian
    assert(inst.invoke("ld16u", 18) == 65534)
    assert(inst.invoke("st16", 32, 0x12345) == 0x2345) // store16 truncates
    assert(Seq(0, 1, 2, 3, -1, 100).map(inst.invoke("pick", _)) ==
      Seq(10, 20, 30, 99, 99, 99)) // br_table incl. default on negative
    assert(inst.invoke("tcall", 1, 20, 22) == 42) // table[1] = add
    assert(inst.invoke("tcall", 2, 6, 7) == 42) // table[2] = mul
    assert(intercept[WasmTrap](inst.invoke("tcall", 0, 1, 1)).msg.contains("null"))
    assert(intercept[WasmTrap](inst.invoke("tcall", 3, 1, 1)).msg.contains("mismatch"))
    assert(intercept[WasmTrap](inst.invoke("tcall", 9, 1, 1)).msg.contains("out of bounds"))
  }

  test("full stack: shelve + merge through the external wbindgen fixture") {
    val en = new WasmEngine
    val (first, count) = en.addCommands(Seq(fixture("sear_bindgen.wasm")))
    assert((first, count) == (0, 1))
    val g = new EventGraph[ArraySeq[Byte]](en)
    val w = new WorkCache[ArraySeq[Byte], ArraySeq[Byte]](en, bytes("the cat sat"))
    var xs = SortedSet.empty[String]
    xs += w.shelveEvent(g, xs, 0, searArg(1, "cat", "dog")).get
    xs += w.shelveEvent(g, xs, 0, searArg(1, "sat", "ran")).get
    w.tryMerge(g, xs)
    val (dat, _) = w.materialize(g, xs)
    assert(new String(dat.toArray, "UTF-8") == "the dog ran")
    // opposite shelve order on a fresh cache converges to the same datum
    val w2 = new WorkCache[ArraySeq[Byte], ArraySeq[Byte]](en, bytes("the cat sat"))
    var ys = SortedSet.empty[String]
    ys += w2.shelveEvent(g, ys, 0, searArg(1, "sat", "ran")).get
    ys += w2.shelveEvent(g, ys, 0, searArg(1, "cat", "dog")).get
    val (dat2, _) = w2.materialize(g, ys)
    assert(new String(dat2.toArray, "UTF-8") == "the dog ran")
  }

  test("full stack: shelve + merge through the WASM engine (byte-sear)") {
    val en = new WasmEngine
    val (first, _) = en.addCommands(Seq(WasmModules.byteSearModule, WasmModules.xorModule))
    assert(first == 0)
    val g = new EventGraph[ArraySeq[Byte]](en)
    val w = new WorkCache[ArraySeq[Byte], ArraySeq[Byte]](en, bytes("abcabc"))
    var xs = SortedSet.empty[String]
    xs += w.shelveEvent(g, xs, 0, WasmModules.arg2('a', 'x')).get
    xs += w.shelveEvent(g, xs, 0, WasmModules.arg2('b', 'y')).get
    w.tryMerge(g, xs)
    val (dat, _) = w.materialize(g, xs)
    assert(new String(dat.toArray, "UTF-8") == "xycxyc")
    // sequential composition on a fresh cache agrees (order b then a)
    val w2 = new WorkCache[ArraySeq[Byte], ArraySeq[Byte]](en, bytes("abcabc"))
    var ys = SortedSet.empty[String]
    ys += w2.shelveEvent(g, ys, 0, WasmModules.arg2('b', 'y')).get
    ys += w2.shelveEvent(g, ys, 0, WasmModules.arg2('a', 'x')).get
    val (dat2, _) = w2.materialize(g, ys)
    assert(new String(dat2.toArray, "UTF-8") == "xycxyc")
  }

  // ---- rustc-compiled fixture: ACTUAL compiler output ----
  // src/test/resources/graft/wasm/sear_rustc.wasm is built by real
  // rustc (nightly, wasm32-unknown-unknown, -Ctarget-cpu=mvp
  // -Ctarget-feature=+bulk-memory,+sign-ext) from tools/sear_nocore.rs
  // — a #![no_core] implementation of the same transform protocol, so
  // the interpreter faces genuine LLVM-scheduled code (its block
  // structure, register allocation, and opcode selection), not
  // hand-assembled or python-emitted bodies. The reference's analog is
  // the wasm-bindgen build of wasm-crates/example-sear.

  test("rustc fixture decodes: wbindgen export set from real compiler output") {
    val mod = WasmModule.decode(fixture("sear_rustc.wasm"))
    assert(mod.exports.keySet == Set("memory", "__wbindgen_malloc",
      "__wbindgen_add_to_stack_pointer", "__wbindgen_free", "transform"))
    assert(mod.memMinPages == 17) // wasm-ld's 1 MiB shadow stack
  }

  test("rustc fixture: every transform mode matches the scala model") {
    val en = new WasmEngine
    en.addCommands(Seq(fixture("sear_rustc.wasm")))
    val docs = Seq("", "a", "abcabc", "the cat sat on the mat, the end",
      "aaaa", "xyxyxy", new String(Array.fill(300)('z')))
    val args = Seq(
      searArg(0),
      searArg(1, "a", "x"), searArg(1, "ab", "QQQ"), searArg(1, "the", ""),
      searArg(1, "aa", "b"), searArg(1, "zzz", "!"), searArg(1, "nope", "?"),
      searArg(2, "cat"), searArg(2, "a"),
      ArraySeq[Byte](3, 1), ArraySeq[Byte](3, -1), ArraySeq[Byte](3, -128))
    for (d <- docs; a <- args) {
      val got = en.runEvent(0, a, bytes(d))
      val expected = searModel(a.toArray, d.getBytes("UTF-8"))
      assert(got.toArray.toSeq == expected.toSeq, s"doc '$d' arg ${a.toList}")
    }
  }

  test("rustc fixture: large payload grows memory; bad mode and empty arg trap") {
    val en = new WasmEngine
    en.addCommands(Seq(fixture("sear_rustc.wasm")))
    val big = "ab" * 50000 // 100 KB, well past the module's initial pages
    val out = en.runEvent(0, searArg(1, "ab", "xyz"), bytes(big))
    assert(out.length == 150000 && new String(out.toArray, "UTF-8").startsWith("xyzxyz"))
    intercept[EngineException](en.runEvent(0, ArraySeq[Byte](9), bytes("x")))
    intercept[EngineException](en.runEvent(0, ArraySeq.empty[Byte], bytes("x")))
    intercept[EngineException](en.runEvent(0, searArg(1, "", "r"), bytes("x")))
  }

  test("full stack: shelve + merge through the rustc-compiled module") {
    val en = new WasmEngine
    en.addCommands(Seq(fixture("sear_rustc.wasm")))
    val g = new EventGraph[ArraySeq[Byte]](en)
    val w = new WorkCache[ArraySeq[Byte], ArraySeq[Byte]](en, bytes("the cat sat"))
    var xs = SortedSet.empty[String]
    xs += w.shelveEvent(g, xs, 0, searArg(1, "cat", "dog")).get
    xs += w.shelveEvent(g, xs, 0, searArg(1, "sat", "ran")).get
    w.tryMerge(g, xs)
    val (dat, _) = w.materialize(g, xs)
    assert(new String(dat.toArray, "UTF-8") == "the dog ran")
  }

  // ---- rustc-compiled JSON-protocol fixture: the reference's LITERAL
  // UDF contract ----
  // src/test/resources/graft/wasm/sear_json.wasm is built by real
  // rustc (nightly, wasm32-unknown-unknown, same flags as sear_rustc)
  // from tools/sear_json.rs: arg is JSON {"search": ..., "replacement":
  // ...} — the exact protocol of wasm-crates/example-sear/src/lib.rs:
  // 4-11 (serde_json parse, str::from_utf8 on both buffers,
  // str::replace) — with every reference .unwrap() panic surfacing as
  // a wasm trap. The container has no wasm32 std/registry (zero
  // egress), so the serde_json subset the reference exercises (object
  // values, full string escapes incl. surrogate pairs, strict
  // trailing-garbage/control-char/UTF-8 rejection) is reimplemented
  // in the same #![no_core] style and held to a byte-level model of
  // Rust str::replace semantics here.

  /** Rust `str::replace` on UTF-8 bytes: non-overlapping left-to-right
    * byte matches (char-aligned for valid UTF-8 by the prefix
    * property); the empty pattern inserts the replacement at every
    * char boundary, both ends included.
    */
  private def rustReplace(dat: Array[Byte], s: Array[Byte], r: Array[Byte]): Array[Byte] = {
    val out = ArrayBuffer[Byte]()
    if (s.isEmpty) {
      var i = 0
      while (i < dat.length) {
        if ((dat(i) & 0xC0) != 0x80) out ++= r
        out += dat(i); i += 1
      }
      out ++= r
    } else {
      var i = 0
      while (i < dat.length) {
        if (i + s.length <= dat.length &&
            java.util.Arrays.equals(dat, i, i + s.length, s, 0, s.length)) {
          out ++= r; i += s.length
        } else { out += dat(i); i += 1 }
      }
    }
    out.toArray
  }

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def jsonArg(search: String, repl: String): ArraySeq[Byte] =
    bytes(s"""{"search": "${jsonEscape(search)}", "replacement": "${jsonEscape(repl)}"}""")

  test("json fixture decodes: wbindgen export set from real compiler output") {
    val mod = WasmModule.decode(fixture("sear_json.wasm"))
    assert(mod.exports.keySet == Set("memory", "__wbindgen_malloc",
      "__wbindgen_add_to_stack_pointer", "__wbindgen_free", "transform"))
    assert(mod.memMinPages >= 17) // wasm-ld's 1 MiB shadow stack
  }

  test("json fixture: the reference's literal protocol (serde_json + str::replace)") {
    val en = new WasmEngine
    en.addCommands(Seq(fixture("sear_json.wasm")))
    def run(arg: ArraySeq[Byte], dat: String): String =
      new String(en.runEvent(0, arg, bytes(dat)).toArray, "UTF-8")
    // the reference's own flow, lib.rs:4-11
    assert(run(jsonArg("cat", "dog"), "the cat sat") == "the dog sat")
    // Java's String.replace agrees with Rust's on BMP text — use it as
    // an independent second model for a few spots
    assert(run(jsonArg("l", "LL"), "hello") == "hello".replace("l", "LL"))
    // multibyte needles and docs (é = 2 bytes, 日 = 3 bytes)
    assert(run(jsonArg("é", "e"), "héllo wörld é") == "hello wörld e")
    assert(run(jsonArg("日本", "JP"), "日本語 and 日本") == "JP語 and JP")
    // \uXXXX escapes: BMP and a surrogate pair (U+1F600)
    assert(run(bytes("""{"search": "a", "replacement": "b"}"""), "banana") == "bbnbnb")
    assert(run(bytes("""{"search": "😀", "replacement": ":)"}"""),
      "hi 😀!") == "hi :)!")
    // escape forms in both key values
    assert(run(jsonArg("\n", " "), "a\nb\nc") == "a b c")
    assert(run(jsonArg("\"q\"", "'q'"), """say "q" loud""") == "say 'q' loud")
    // whitespace tolerance, nested skipped values, duplicate key
    // last-wins (serde_json map semantics)
    assert(run(bytes(
      """ { "meta": {"a": [1, true, null, "s"], "b": -2.5e3}, """ +
        """"search": "x", "replacement": "y", "search": "b" } """), "abxb") == "ayxy")
    // no occurrences / identity
    assert(run(jsonArg("zz", "q"), "abc") == "abc")
    assert(run(jsonArg("abc", ""), "abcabc") == "")
  }

  test("json fixture: empty search inserts at every char boundary") {
    val en = new WasmEngine
    en.addCommands(Seq(fixture("sear_json.wasm")))
    def run(arg: ArraySeq[Byte], dat: String): String =
      new String(en.runEvent(0, arg, bytes(dat)).toArray, "UTF-8")
    // Rust: "ab".replace("", "-") == "-a-b-"; Java agrees on BMP input
    assert(run(jsonArg("", "-"), "ab") == "ab".replace("", "-"))
    assert(run(jsonArg("", "-"), "ab") == "-a-b-")
    // boundaries are CHAR boundaries, not byte offsets (é is 2 bytes)
    assert(run(jsonArg("", "."), "hé") == ".h.é.")
    assert(run(jsonArg("", "xy"), "") == "xy")
  }

  test("json fixture: every reference unwrap() surfaces as a trap") {
    val en = new WasmEngine
    en.addCommands(Seq(fixture("sear_json.wasm")))
    def trap(arg: ArraySeq[Byte], dat: ArraySeq[Byte] = bytes("x")): Unit =
      withClue(s"arg=${new String(arg.toArray, "ISO-8859-1")}: ") {
        val e = intercept[EngineException](en.runEvent(0, arg, dat))
        assert(e.getMessage.contains("wasm trap"), e.getMessage)
      }
    trap(bytes("""{search: "a", "replacement": "b"}""")) // unquoted key
    trap(bytes("""{"search": "a"}""")) // missing replacement
    trap(bytes("""{"replacement": "b"}""")) // missing search
    trap(bytes("""{"search": 3, "replacement": "b"}""")) // non-string
    trap(bytes("""{"search": "a", "replacement": null}""")) // non-string
    trap(bytes("""{"search": "a", "replacement": "b"} x""")) // trailing garbage
    trap(bytes("""{"search": "a", "replacement": "b"""")) // unterminated
    // NB: written with an explicit double backslash — in Scala source a
    // bare \ud800 is lexer-preprocessed into a real (lone) surrogate
    // char before it ever reaches the string
    trap(bytes("{\"search\": \"\\ud800\", \"replacement\": \"b\"}")) // lone surrogate
    trap(bytes("""{"search": "\q", "replacement": "b"}""")) // bad escape
    trap(bytes("[1, 2]")) // not an object
    trap(bytes("")) // empty arg
    // invalid UTF-8: in dat, and in the arg buffer itself
    trap(jsonArg("a", "b"), ArraySeq[Byte](0x61, 0xC0.toByte, 0x61))
    trap(ArraySeq.unsafeWrapArray(
      Array[Byte]('{'.toByte, 0xFF.toByte, '}'.toByte)))
    // control char raw in a string: serde_json rejects
    trap(ArraySeq.unsafeWrapArray(
      ("""{"search": "a""" + "\n" + """", "replacement": "b"}""").getBytes("UTF-8")))
    // malformed NUMBERS under a skipped key: serde_json's number
    // grammar is -?(0|[1-9][0-9]*)(\.[0-9]+)?([eE][+-]?[0-9]+)? and
    // the reference's from_str().unwrap() panics on each of these —
    // a looser scanner would return a result instead of trapping
    def trapNum(lit: String): Unit =
      trap(bytes(s"""{"x": $lit, "search": "a", "replacement": "b"}"""))
    trapNum("-") // bare sign
    trapNum("1..2") // double fraction
    trapNum("1.2.3") // second fraction after a complete number
    trapNum("1e+-3") // signed twice
    trapNum("01") // leading zero
    trapNum("1.") // fraction needs a digit
    trapNum("1e") // exponent needs a digit
    trapNum("1e+") // signed exponent still needs a digit
    trapNum(".5") // no integer part
    trapNum("+1") // leading plus
    // ...while every well-formed shape still parses
    val en2 = en
    def ok(lit: String): Unit =
      assert(new String(en2.runEvent(0,
        bytes(s"""{"x": $lit, "search": "a", "replacement": "b"}"""),
        bytes("aha")).toArray, "UTF-8") == "bhb", lit)
    Seq("0", "-0", "7", "-12", "0.5", "-0.25", "1e9", "1E+2", "6.02e-23",
      "10.01").foreach(ok)
  }

  test("full stack: shelve + merge through the JSON-protocol module") {
    val en = new WasmEngine
    en.addCommands(Seq(fixture("sear_json.wasm")))
    val g = new EventGraph[ArraySeq[Byte]](en)
    val w = new WorkCache[ArraySeq[Byte], ArraySeq[Byte]](en, bytes("the cat sat"))
    var xs = SortedSet.empty[String]
    xs += w.shelveEvent(g, xs, 0, jsonArg("cat", "dog")).get
    xs += w.shelveEvent(g, xs, 0, jsonArg("sat", "ran")).get
    w.tryMerge(g, xs)
    val (dat, _) = w.materialize(g, xs)
    assert(new String(dat.toArray, "UTF-8") == "the dog ran")
  }

  test("property: json fixture matches rust str::replace on 300 random cases") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val en = new WasmEngine
    en.addCommands(Seq(fixture("sear_json.wasm")))
    // small alphabet (matches occur) + chars that force escapes +
    // multibyte; docs occasionally large enough to grow memory
    val ch = Gen.oneOf('a', 'b', '"', '\\', '\n', 'é', '日')
    val strGen = Gen.chooseNum(0, 6).flatMap(n => Gen.listOfN(n, ch).map(_.mkString))
    val docGen = Gen.frequency(
      24 -> Gen.chooseNum(0, 300).flatMap(n => Gen.listOfN(n, ch).map(_.mkString)),
      1 -> Gen.chooseNum(8000, 15000).flatMap(n => Gen.listOfN(n, ch).map(_.mkString)))
    val caseGen = for { s <- strGen; r <- strGen; d <- docGen } yield (s, r, d)
    val params = Gen.Parameters.default
    var seed = Seed(20260814L)
    var i = 0
    while (i < 300) {
      val (s, r, d) = caseGen.pureApply(params, seed)
      val got = en.runEvent(0, jsonArg(s, r), bytes(d)).toArray.toSeq
      val expected = rustReplace(d.getBytes("UTF-8"),
        s.getBytes("UTF-8"), r.getBytes("UTF-8")).toSeq
      assert(got == expected, s"case #$i s=$s r=$r dlen=${d.length}")
      seed = seed.next
      i += 1
    }
  }

  // ---- property: both external fixtures vs the scala model ----
  // Random well-formed args over random byte documents (small alphabet
  // so matches actually occur, occasional 30-60 KB payloads so the
  // growth path runs under the interpreter) — the coverage the
  // reference gets from its sear fuzz target, aimed at the external
  // binaries instead of the in-repo assembler.

  test("property: external fixtures match the model on 300 random cases") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val byteGen = Gen.oneOf[Byte]('a'.toByte, 'b'.toByte, 'c'.toByte, 0.toByte, 255.toByte)
    val smallBytes = Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n, byteGen))
    val needle = Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, byteGen))
    val datGen = Gen.frequency(
      24 -> Gen.chooseNum(0, 400).flatMap(n => Gen.listOfN(n, byteGen)),
      1 -> Gen.chooseNum(30000, 60000).flatMap(n => Gen.listOfN(n, byteGen)))
    val argGen: Gen[List[Byte]] = Gen.oneOf(
      Gen.const(List[Byte](0)),
      for { s <- needle; r <- smallBytes } yield {
        List[Byte](1, (s.length & 0xff).toByte, 0, (r.length & 0xff).toByte, 0) ++ s ++ r
      },
      needle.map(s => List[Byte](2, (s.length & 0xff).toByte, 0) ++ s),
      Gen.chooseNum(-128, 127).map(d => List[Byte](3, d.toByte)))
    val caseGen = for { a <- argGen; d <- datGen } yield (a, d)

    val engines = Seq(
      "sear_bindgen.wasm" -> new WasmEngine,
      "sear_rustc.wasm" -> new WasmEngine)
    engines.foreach { case (f, en) => en.addCommands(Seq(fixture(f))) }
    val params = Gen.Parameters.default
    var seed = Seed(907L)
    var i = 0
    while (i < 300) {
      val (arg, dat) = caseGen.pureApply(params, seed)
      val a = ArraySeq.from(arg)
      val d = ArraySeq.from(dat)
      val expected = searModel(a.toArray, d.toArray).toSeq
      engines.foreach { case (f, en) =>
        val got = en.runEvent(0, a, d)
        assert(got.toArray.toSeq == expected, s"case #$i fixture=$f arg=$arg datlen=${d.length}")
      }
      seed = seed.next
      i += 1
    }
  }
}

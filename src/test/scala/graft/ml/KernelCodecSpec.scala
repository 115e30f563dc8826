package graft.ml

import graft.SparkSpec

class KernelCodecSpec extends SparkSpec {

  test("Kernel.encode/decode round-trips all four kernels") {
    val kernels = Seq(Kernel.Linear, Kernel.Polynomial(0.25, 1.5, 3),
      Kernel.Rbf(0.5), Kernel.Laplacian(2.0))
    kernels.foreach { k =>
      val (kt, g, c0, d) = Kernel.encode(k)
      assert(kt === k.name)
      assert(Kernel.decode(kt, g, c0, d) === k)
    }
  }

  test("an unknown kernel_type is rejected by name, also from a text model file") {
    val e = intercept[IllegalArgumentException](Kernel.decode("sigmoid", 0.5, 0.0, 0))
    assert(e.getMessage.contains("unknown kernel_type 'sigmoid'"), e.getMessage)
    val dir = graft.Scratch.dir("kernel_codec")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/header"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/header/part-00000"),
      "svm_type c_svc\nkernel_type sigmoid\ngamma 0.5\ncoef0 0.0\ndegree 0\n" +
        "total_sv 0\ndim -1\nrho 0.0\nSV\n")
    val e2 = intercept[IllegalArgumentException](IcfSvmModel.loadText(spark, dir))
    assert(e2.getMessage.contains("unknown kernel_type 'sigmoid'"), e2.getMessage)
  }
}

package app

class CoreSpec {
  assert(Core.onlySpecs(2) == 1 && Core.dead(1) == 2)
}

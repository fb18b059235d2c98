"""Replays one seed's pipeline draws through the CLI and checks every
expectation the draw generator emits.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the repository root. The CLI replay builds the program first if
needed (see run.py) and takes about two minutes.
"""
import os
import shutil
import unittest

import draws
import run

SEED = 2
# the timed cycle, then the fault kinds the benchmark does not time
KINDS = draws.CYCLE + draws.FAULTS


class DrawsTest(unittest.TestCase):

    def test_same_seed_same_draws(self):
        self.assertEqual(draws.draws(SEED, KINDS), draws.draws(SEED, KINDS))
        self.assertNotEqual(draws.draws(SEED, KINDS), draws.draws(SEED + 1, KINDS))

    def test_kinds_are_kept_in_order(self):
        _, plan = draws.draws(SEED, KINDS)
        self.assertEqual([d["kind"] for d in plan], KINDS)
        self.assertEqual(plan[1]["pages"], plan[0]["pages"])
        with self.assertRaises(ValueError):
            draws.draws(SEED, ["unchanged"])

    def test_cli_replay_matches_expectations(self):
        cp, opts = run.build()
        base = os.path.join(run.OUT, "test_draws")
        shutil.rmtree(base, ignore_errors=True)
        work, fixtures = os.path.join(base, "work"), os.path.join(base, "sources")
        os.makedirs(os.path.join(work, "sheets"))
        os.makedirs(run.TMP, exist_ok=True)
        sheet, plan = draws.draws(SEED, KINDS)
        run.write_sheet(os.path.join(work, "sheets"), sheet)
        env = dict(os.environ, SPARK_MASTER=f"local[{run.NPROC}]",
                   LC_ALL="C.UTF-8", LANG="C.UTF-8")
        cmd = run.java_cmd(cp, opts, "graft.Main")
        out = os.path.join(base, "stdout")
        for draw in plan:
            with self.subTest(kind=draw["kind"]):
                draws.write_pages(draw, fixtures)
                c = run.spawn(cmd + ["run", "--work-dir", work, "--fixture-dir", fixtures],
                              env=env, stdout_path=out)
                self.assertEqual(c.code, 0)
                self.assertEqual(run.check_run(draw, c.out, work), [])
                c = run.spawn(cmd + ["publish", "--work-dir", work, "--dry-run"],
                              env=env, stdout_path=out)
                self.assertEqual(c.code, 0)
                self.assertEqual(c.out.strip(), draw["diff"])
        shutil.rmtree(base)


if __name__ == "__main__":
    unittest.main()

-- aqp_fold query classes: every query line of the committed
-- workloads/testdata_{30,aqp_20,groupby_10,calendar_24,multior_10,rollup_8}.sql
-- files, verbatim, one class per line. perfbench/inputs.py redraws each
-- line's numeric and date constants per query; a class is drawn with its
-- share of these lines. A line marked `declined:` is left out of the
-- stream, with the reason above it. test_perfbench.TemplateSource checks
-- this copy against the committed files.
-- source: workloads/testdata_30.sql
SELECT COUNT(*) FROM lineitem l WHERE l.l_quantity < 25;
SELECT COUNT(*) FROM lineitem l WHERE l.l_quantity BETWEEN 10 AND 30 AND l.l_discount < 0.05;
SELECT COUNT(*) FROM lineitem l WHERE l.l_returnflag = 'A' AND l.l_quantity > 20;
SELECT COUNT(*) FROM lineitem l WHERE l.l_shipdate >= '1996-01-01' AND l.l_shipdate < '1998-01-01';
SELECT COUNT(*) FROM lineitem l WHERE l.l_extendedprice > 30000 AND l.l_tax < 0.05;
SELECT COUNT(*) FROM orders o WHERE o.o_totalprice < 150000;
SELECT COUNT(*) FROM orders o WHERE o.o_orderstatus = 'F' AND o.o_orderdate < '1999-01-01';
SELECT COUNT(*) FROM orders o WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH');
SELECT COUNT(*) FROM part p WHERE p.p_size BETWEEN 10 AND 40;
SELECT COUNT(*) FROM customer c WHERE c.c_acctbal > 1000;
SELECT COUNT(*) FROM lineitem l,orders o WHERE o.o_orderkey=l.l_orderkey AND o.o_orderstatus = 'F';
SELECT COUNT(*) FROM lineitem l,orders o WHERE o.o_orderkey=l.l_orderkey AND l.l_quantity < 20;
SELECT COUNT(*) FROM lineitem l,orders o WHERE o.o_orderkey=l.l_orderkey AND o.o_totalprice < 100000 AND l.l_returnflag = 'N';
SELECT COUNT(*) FROM lineitem l,orders o WHERE o.o_orderkey=l.l_orderkey AND o.o_orderdate >= '1996-01-01' AND l.l_discount > 0.02;
SELECT COUNT(*) FROM lineitem l,orders o WHERE o.o_orderkey=l.l_orderkey AND l.l_shipdate < '1997-06-01' AND o.o_orderpriority = '5-LOW';
SELECT COUNT(*) FROM orders o,customer c WHERE c.c_custkey=o.o_custkey AND c.c_mktsegment = 'BUILDING';
SELECT COUNT(*) FROM orders o,customer c WHERE c.c_custkey=o.o_custkey AND c.c_acctbal < 5000 AND o.o_orderstatus = 'O';
SELECT COUNT(*) FROM orders o,customer c WHERE c.c_custkey=o.o_custkey AND o.o_totalprice > 200000;
SELECT COUNT(*) FROM orders o,customer c WHERE c.c_custkey=o.o_custkey AND c.c_mktsegment IN ('MACHINERY', 'HOUSEHOLD') AND o.o_orderdate < '2000-01-01';
SELECT COUNT(*) FROM lineitem l,part p WHERE p.p_partkey=l.l_partkey AND p.p_size < 25;
SELECT COUNT(*) FROM lineitem l,part p WHERE p.p_partkey=l.l_partkey AND p.p_retailprice > 1200 AND l.l_quantity < 30;
SELECT COUNT(*) FROM lineitem l,supplier s WHERE s.s_suppkey=l.l_suppkey AND s.s_acctbal > 0;
SELECT COUNT(*) FROM customer c,orders o,lineitem l WHERE c.c_custkey=o.o_custkey AND o.o_orderkey=l.l_orderkey AND c.c_mktsegment = 'BUILDING';
SELECT COUNT(*) FROM customer c,orders o,lineitem l WHERE c.c_custkey=o.o_custkey AND o.o_orderkey=l.l_orderkey AND c.c_mktsegment = 'AUTOMOBILE' AND l.l_quantity < 30;
SELECT COUNT(*) FROM customer c,orders o,lineitem l WHERE c.c_custkey=o.o_custkey AND o.o_orderkey=l.l_orderkey AND c.c_acctbal > 2000 AND l.l_returnflag = 'R';
SELECT COUNT(*) FROM customer c,orders o,lineitem l WHERE c.c_custkey=o.o_custkey AND o.o_orderkey=l.l_orderkey AND o.o_orderstatus = 'O' AND l.l_shipdate >= '1996-01-01';
SELECT COUNT(*) FROM customer c,orders o,lineitem l WHERE c.c_custkey=o.o_custkey AND o.o_orderkey=l.l_orderkey AND c.c_mktsegment = 'FURNITURE' AND o.o_totalprice < 250000 AND l.l_discount < 0.08;
SELECT COUNT(*) FROM orders o,lineitem l,part p WHERE o.o_orderkey=l.l_orderkey AND p.p_partkey=l.l_partkey AND p.p_size < 30 AND o.o_orderstatus = 'F';
SELECT COUNT(*) FROM orders o,lineitem l,part p WHERE o.o_orderkey=l.l_orderkey AND p.p_partkey=l.l_partkey AND p.p_retailprice < 1500 AND l.l_quantity BETWEEN 5 AND 35;
SELECT COUNT(*) FROM orders o,lineitem l,part p WHERE o.o_orderkey=l.l_orderkey AND p.p_partkey=l.l_partkey AND o.o_orderdate >= '1995-06-01' AND p.p_size > 15 AND l.l_returnflag = 'N';
-- source: workloads/testdata_aqp_20.sql
SELECT SUM(l_extendedprice) FROM lineitem l WHERE l.l_quantity < 25;
SELECT SUM(l_quantity) FROM lineitem l WHERE l.l_returnflag = 'A';
SELECT AVG(l_extendedprice) FROM lineitem l WHERE l.l_discount < 0.05;
SELECT AVG(l_quantity) FROM lineitem l WHERE l.l_shipdate >= '1996-01-01';
SELECT SUM(l_extendedprice) FROM lineitem l WHERE l.l_shipdate BETWEEN '1996-01-01' AND '1997-12-31';
SELECT SUM(o_totalprice) FROM orders o WHERE o.o_orderstatus = 'F';
SELECT AVG(o_totalprice) FROM orders o WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH');
SELECT SUM(o_totalprice) FROM orders o WHERE o.o_orderdate < '1999-01-01';
SELECT SUM(l_extendedprice * l_discount) FROM lineitem l WHERE l.l_quantity < 30;
SELECT SUM(l_extendedprice * l_tax) FROM lineitem l WHERE l.l_returnflag = 'N';
SELECT SUM(l_quantity * l_discount) FROM lineitem l WHERE l.l_shipdate >= '1996-01-01';
SELECT SUM(l_extendedprice * l_discount) FROM lineitem l WHERE l.l_linestatus = 'O';
SELECT SUM(l_extendedprice) - SUM(l_quantity) FROM lineitem l WHERE l.l_quantity < 20;
SELECT SUM(o_totalprice) + SUM(o_totalprice) FROM orders o WHERE o.o_orderstatus = 'O';
SELECT SUM(l_extendedprice) FROM lineitem l,orders o WHERE o.o_orderkey=l.l_orderkey AND o.o_orderstatus = 'F';
SELECT AVG(l_quantity) FROM lineitem l,orders o WHERE o.o_orderkey=l.l_orderkey AND o.o_totalprice < 100000;
SELECT SUM(l_extendedprice) FROM lineitem l,orders o WHERE o.o_orderkey=l.l_orderkey AND o.o_orderpriority = '5-LOW' AND l.l_discount < 0.06;
SELECT SUM(o_totalprice) FROM orders o,customer c WHERE c.c_custkey=o.o_custkey AND c.c_mktsegment = 'BUILDING';
SELECT AVG(o_totalprice) FROM orders o,customer c WHERE c.c_custkey=o.o_custkey AND c.c_acctbal > 1000;
SELECT SUM(l_quantity) FROM customer c,orders o,lineitem l WHERE c.c_custkey=o.o_custkey AND o.o_orderkey=l.l_orderkey AND c.c_mktsegment = 'MACHINERY';
-- source: workloads/testdata_groupby_10.sql
SELECT l_returnflag, COUNT(*) FROM lineitem l GROUP BY l_returnflag;
SELECT l_linestatus, COUNT(*) FROM lineitem l WHERE l.l_quantity < 25 GROUP BY l_linestatus;
SELECT l_returnflag, SUM(l_extendedprice) FROM lineitem l GROUP BY l_returnflag;
SELECT l_returnflag, AVG(l_quantity) FROM lineitem l WHERE l.l_discount < 0.05 GROUP BY l_returnflag;
SELECT o_orderstatus, COUNT(*) FROM orders o GROUP BY o_orderstatus;
SELECT o_orderpriority, COUNT(*) FROM orders o WHERE o.o_totalprice < 150000 GROUP BY o_orderpriority;
SELECT c_mktsegment, COUNT(*) FROM customer c GROUP BY c_mktsegment;
SELECT c_mktsegment, COUNT(*) FROM customer c,orders o WHERE c.c_custkey=o.o_custkey GROUP BY c_mktsegment;
SELECT l_returnflag, l_linestatus, COUNT(*) FROM lineitem l GROUP BY l_returnflag, l_linestatus;
SELECT o_orderpriority, SUM(l_extendedprice) FROM lineitem l,orders o WHERE o.o_orderkey=l.l_orderkey GROUP BY o_orderpriority;
-- source: workloads/testdata_calendar_24.sql
SELECT year(o_orderdate), COUNT(*) FROM orders GROUP BY year(o_orderdate);
SELECT year(o_orderdate), COUNT(*) FROM orders WHERE o_totalprice < 150000 GROUP BY year(o_orderdate);
SELECT month(o_orderdate), COUNT(*) FROM orders GROUP BY month(o_orderdate);
SELECT quarter(o_orderdate), COUNT(*) FROM orders GROUP BY quarter(o_orderdate);
SELECT year(o_orderdate), SUM(o_totalprice) FROM orders GROUP BY year(o_orderdate);
SELECT year(o_orderdate), AVG(o_totalprice) FROM orders GROUP BY year(o_orderdate);
SELECT month(o_orderdate), SUM(o_totalprice) FROM orders WHERE o_orderstatus = 'F' GROUP BY month(o_orderdate);
SELECT year(l_shipdate), COUNT(*) FROM lineitem GROUP BY year(l_shipdate);
SELECT year(l_shipdate), SUM(l_extendedprice) FROM lineitem WHERE l_quantity < 30 GROUP BY year(l_shipdate);
SELECT month(l_shipdate), COUNT(*) FROM lineitem WHERE l_returnflag = 'A' GROUP BY month(l_shipdate);
SELECT quarter(l_shipdate), AVG(l_quantity) FROM lineitem GROUP BY quarter(l_shipdate);
SELECT year(o_orderdate), COUNT(*) FROM orders WHERE o_orderdate >= '1995-01-01' GROUP BY year(o_orderdate);
SELECT year(o_orderdate), COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE l_quantity < 25 GROUP BY year(o_orderdate);
SELECT month(o_orderdate), COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE l_returnflag = 'R' GROUP BY month(o_orderdate);
SELECT year(l_shipdate), SUM(l_extendedprice) FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE o_totalprice < 120000 GROUP BY year(l_shipdate);
SELECT quarter(o_orderdate), SUM(o_totalprice) FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY quarter(o_orderdate);
SELECT year(o_orderdate), AVG(o_totalprice) FROM orders WHERE o_orderstatus = 'O' GROUP BY year(o_orderdate);
SELECT month(l_shipdate), SUM(l_quantity) FROM lineitem WHERE l_discount < 0.05 GROUP BY month(l_shipdate);
SELECT year(o_orderdate), COUNT(*) FROM orders WHERE o_orderdate < '1997-06-01' GROUP BY year(o_orderdate);
SELECT quarter(l_shipdate), COUNT(*) FROM lineitem WHERE l_quantity BETWEEN 10 AND 40 GROUP BY quarter(l_shipdate);
SELECT year(o_orderdate), o_orderpriority, COUNT(*) FROM orders GROUP BY year(o_orderdate), o_orderpriority;
SELECT month(o_orderdate), o_orderstatus, COUNT(*) FROM orders WHERE o_totalprice < 150000 GROUP BY month(o_orderdate), o_orderstatus;
SELECT year(l_shipdate), l_returnflag, SUM(l_extendedprice) FROM lineitem GROUP BY year(l_shipdate), l_returnflag;
SELECT quarter(o_orderdate), c_mktsegment, COUNT(*) FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY quarter(o_orderdate), c_mktsegment;
-- source: workloads/testdata_multior_10.sql
SELECT COUNT(*) FROM lineitem l WHERE (l.l_quantity < 10 OR l.l_quantity > 40) AND (l.l_discount < 0.03 OR l.l_tax > 0.05);
SELECT COUNT(*) FROM lineitem l WHERE (l.l_returnflag = 'A' OR l.l_linestatus = 'O') AND (l.l_quantity < 25 OR l.l_discount > 0.07);
SELECT COUNT(*) FROM lineitem l WHERE (l.l_shipdate < DATE '1994-01-01' OR l.l_shipdate >= DATE '1997-01-01') AND (l.l_quantity < 15 OR l.l_quantity > 35);
SELECT COUNT(*) FROM lineitem l WHERE (l.l_extendedprice < 20000 OR l.l_extendedprice > 80000) AND (l.l_returnflag = 'R' OR l.l_tax < 0.02);
SELECT COUNT(*) FROM lineitem l WHERE (l.l_quantity < 10 OR l.l_quantity > 40) AND (l.l_discount < 0.03 OR l.l_tax > 0.05) AND (l.l_returnflag = 'N' OR l.l_linestatus = 'F');
SELECT COUNT(*) FROM orders o WHERE (o.o_orderstatus = 'F' OR o.o_orderpriority = '1-URGENT') AND (o.o_totalprice < 50000 OR o.o_totalprice > 150000);
SELECT COUNT(*) FROM orders o WHERE (o.o_orderdate < DATE '1994-01-01' OR o.o_orderdate >= DATE '1996-06-01') AND (o.o_orderpriority = '5-LOW' OR o.o_orderstatus = 'O');
-- left out: the fold declines this class (a disjunction over two joined
-- tables) and the query scans both tables, about 0.5 s a query at sf0.1
-- declined: SELECT COUNT(*) FROM orders o, lineitem l WHERE l.l_orderkey = o.o_orderkey AND (o.o_orderpriority = '1-URGENT' OR l.l_quantity > 45) AND (l.l_discount < 0.02 OR l.l_tax > 0.06);
SELECT COUNT(*) FROM lineitem l WHERE (l.l_quantity BETWEEN 5 AND 15 OR l.l_quantity BETWEEN 30 AND 40) AND (l.l_returnflag = 'A' OR l.l_returnflag = 'R');
SELECT COUNT(*) FROM lineitem l WHERE (l.l_shipdate >= DATE '1995-01-01' AND l.l_shipdate < DATE '1996-01-01' OR l.l_quantity > 45) AND (l.l_linestatus = 'F' OR l.l_tax < 0.01);
-- source: workloads/testdata_rollup_8.sql
SELECT l_returnflag, l_linestatus, COUNT(*) FROM lineitem WHERE l_quantity < 35 GROUP BY ROLLUP(l_returnflag, l_linestatus);
SELECT l_returnflag, l_linestatus, SUM(l_extendedprice) FROM lineitem WHERE l_quantity < 35 GROUP BY ROLLUP(l_returnflag, l_linestatus);
SELECT l_returnflag, AVG(l_extendedprice) FROM lineitem GROUP BY ROLLUP(l_returnflag);
SELECT l_linestatus, SUM(l_extendedprice * l_discount) FROM lineitem WHERE l_quantity < 30 GROUP BY ROLLUP(l_linestatus);
SELECT o_orderstatus, o_orderpriority, COUNT(*) FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority);
SELECT o_orderstatus, SUM(o_totalprice) FROM orders WHERE o_totalprice < 150000 GROUP BY CUBE(o_orderstatus);
SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) HAVING COUNT(*) > 10 ORDER BY n DESC;
SELECT o_orderstatus, o_orderpriority, AVG(o_totalprice) FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority);

WITH ol AS (
           SELECT DISTINCT 2 * o_custkey AS c, 2 * l_suppkey + 1 AS p
           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         e AS (SELECT c AS src, p AS dst FROM ol UNION SELECT p, c FROM ol),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         nn AS (SELECT count(*) AS n FROM nodes),
         pr0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank
                 FROM nodes CROSS JOIN nn),
         c1 AS (
           SELECT e.dst AS node, sum(CAST(p.rank / d.outdeg AS DECIMAL(38,18))) AS s
           FROM pr0 p JOIN deg d ON d.src = p.node JOIN e ON e.src = p.node
           GROUP BY e.dst),
         pr1 AS (
           SELECT nd.node,
             (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(CAST(c.s AS DOUBLE), CAST(0 AS DOUBLE)) AS rank
           FROM nodes nd CROSS JOIN nn LEFT JOIN c1 c ON c.node = nd.node),
         c2 AS (
           SELECT e.dst AS node, sum(CAST(p.rank / d.outdeg AS DECIMAL(38,18))) AS s
           FROM pr1 p JOIN deg d ON d.src = p.node JOIN e ON e.src = p.node
           GROUP BY e.dst),
         pr2 AS (
           SELECT nd.node,
             (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(CAST(c.s AS DOUBLE), CAST(0 AS DOUBLE)) AS rank
           FROM nodes nd CROSS JOIN nn LEFT JOIN c2 c ON c.node = nd.node),
         c3 AS (
           SELECT e.dst AS node, sum(CAST(p.rank / d.outdeg AS DECIMAL(38,18))) AS s
           FROM pr2 p JOIN deg d ON d.src = p.node JOIN e ON e.src = p.node
           GROUP BY e.dst),
         pr3 AS (
           SELECT nd.node,
             (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
               + CAST(0.85 AS DOUBLE) * coalesce(CAST(c.s AS DOUBLE), CAST(0 AS DOUBLE)) AS rank
           FROM nodes nd CROSS JOIN nn LEFT JOIN c3 c ON c.node = nd.node)
         SELECT node, round(rank, 9) AS rank FROM pr3 ORDER BY node
